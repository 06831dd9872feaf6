"""Deduplication operators for large-scale training-data pipelines: exact,
MinHash+LSH, SimHash, and exact n-gram Jaccard. All are pure DataFrame
plans (no Python UDFs) — hashing uses Spark's built-in xxhash64/md5, so
every stage stays in whole-stage codegen and scales linearly.

Scale design (the 100 TB story):
- exact dedup: one hash-groupBy shuffle on a 16-byte digest.
- MinHash+LSH: shingle explode -> per-doc minhash signature (groupBy min of
  k permuted hashes) -> band buckets -> bucket equi-join. Candidate pairs
  are bounded by band collisions, never the O(N^2) pair space.
- SimHash: one pass to a 64-bit signature; near-dup = equal signature (or
  banded sub-keys for hamming<=k retrieval).
- exact n-gram Jaccard: inverted-index self-join on shared shingles; use
  AFTER LSH at scale (verify candidates), standalone only at survey scale.
- shared shingle index: the tokenize -> shingle -> distinct scan is the
  single most expensive pass over the corpus, so it is built ONCE per dedup
  pipeline (:func:`shingle_index`) and handed to both the LSH-generate and
  the exact-verify halves — never recomputed per stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from candia_spark import telemetry

# Tokenization convention shared with the DuckDB oracles: lowercase, split
# on single spaces, drop empties.
def tokens_col(text_col: str = "text"):
    return F.filter(F.split(F.lower(F.col(text_col)), " "), lambda t: t != "")


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative (min id) per exact text digest.

    At 100 TB: the groupBy shuffles only (digest, id) pairs — bytes per
    row, not documents.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def _shingle_array(t: Column, n: int) -> Column:
    """Array of word n-gram shingles from a token-array column: shingle i =
    t[i] .. t[i+n-1] joined by \\x1f. Built as n-1 zip_with passes over
    shifted slices — measured ~3x faster than
    transform(sequence, i -> concat_ws(slice(t, i, n))) at identical
    output: the per-element slice allocates an array per shingle, the
    zip_with form only concatenates strings. Short docs fall out naturally:
    the slice length greatest(len-n+1, 0) is 0, so the array is empty (no
    when/otherwise branch needed)."""
    m = F.greatest(F.size(t) - (n - 1), F.lit(0))
    acc = F.slice(t, 1, m)
    for k in range(1, n):
        acc = F.zip_with(
            acc, F.slice(t, k + 1, m), lambda x, y: F.concat(x, F.lit("\x1f"), y)
        )
    return acc


def word_ngram_hashes(
    df: DataFrame, n: int = 2, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct word n-gram shingle HASHES per document: (id, shingle:
    bigint). Hashing before dedup means downstream dedup shuffles carry
    16-byte rows instead of strings — use this wherever the shingle text
    itself is not needed (Jaccard counting, MinHash). Tokens are projected
    into a column first so the split/lower/filter chain runs once per row.

    Set semantics WITHOUT a shuffle: a (id, shingle) duplicate can only
    come from repeats inside one document, so ``array_distinct`` on the
    per-row hash array before the explode yields exactly what a global
    ``distinct()`` would — minus the full-corpus exchange that distinct()
    costs (measured 5.3s -> 3.4s at sf0.1; at 100 TB it removes the
    largest shuffle in the dedup family)."""
    tdf = df.select(F.col(id_col), tokens_col(text_col).alias("__t"))
    return tdf.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.transform(
                    _shingle_array(F.col("__t"), n), lambda s: F.xxhash64(s)
                )
            )
        ).alias("shingle"),
    )


def shingle_index(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
    max_shingle_frac: float | None = None,
) -> DataFrame:
    """Materialized distinct (id, shingle-hash) inverted index, optionally
    hot-shingle-capped. Build ONCE per dedup pipeline and pass it to
    :func:`ngram_jaccard_pairs` / :func:`minhash_lsh_pairs` via ``index=``
    so the tokenize -> shingle -> distinct corpus scan runs exactly once no
    matter how many stages (LSH generate, exact verify, sizes, census)
    consume it.

    ``max_shingle_df`` / ``max_shingle_frac`` drop hot shingles (a stopword
    bigram shared by 1M docs is a 10^12-pair explosion in standalone
    Jaccard). The fractional form is scale-invariant: the cap is a fraction
    of the documents PRESENT IN THE INDEX (= docs with >= 1 shingle), so it
    needs no second scan of the corpus. Capping is applied as: one census
    pass over the materialized base index -> tiny over-cap shingle set ->
    broadcast anti-join -> the CAPPED index is materialized too, so
    downstream consumers read capped blocks with no census subtree in
    their plans at all.

    The two forms bound different things (SCALING_r08 winnow_zipf is the
    measured version of this distinction): the FRACTIONAL cap is the
    semantic knob — "no shingle shared by over X% of documents carries
    similarity evidence" — but df <= frac*N still admits Θ(N²) pair-scan
    mass on a shared-vocabulary corpus; the ABSOLUTE cap is the mass
    bound — Σ_{df<=cap} df² <= cap * index_rows, linear in the corpus by
    construction. At corpus scale pass both (they compose as a LEAST).
    """
    return _counted_shingle_index(
        df, n, text_col, id_col, max_shingle_df, max_shingle_frac
    )[0]


def _counted_shingle_index(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
    max_shingle_frac: float | None = None,
) -> tuple[DataFrame, int]:
    """:func:`shingle_index` plus its row count, observed on the index's
    own materialization jobs (no extra action)."""
    from candia_spark.operators.materialize import cut

    base, stats = cut(
        word_ngram_hashes(df, n, text_col, id_col),
        F.count(F.lit(1)).alias("n"),
    )
    capped, _, rows = _cap_hot_keys(
        base, stats["n"], "shingle", id_col, max_shingle_df, max_shingle_frac
    )
    return capped, rows


def _cap_hot_keys(
    base: DataFrame,
    base_rows: int | None,
    key_col: str,
    id_col: str,
    max_df: int | None,
    max_frac: float | None,
) -> tuple[DataFrame, int, int | None]:
    """The shared hot-key capping device (shingle_index's historical
    inline form, reused by the winnowed-fingerprint index — advice/
    verdict r7 #2): census the MATERIALIZED inverted index, anti-join
    away keys whose document frequency exceeds the cap, and return
    ``(capped_index, n_hot, capped_rows)``. The fractional cap is
    measured against the documents PRESENT IN THE INDEX, so it is
    scale-invariant and needs no second corpus scan. ``capped_rows`` is
    ``base_rows`` (the caller's count of ``base``, None if unknown) when
    nothing is capped, else the count observed on the capped cut.

    The cap usually doesn't bite (hot keys are pathological by
    definition): the over-cap set is cut first — one tiny job over the
    already-materialized base, its size observed on that same job — and
    when it's empty the base is returned untouched with no second
    materialization. Whenever a cap is given, ``n_hot`` is recorded as
    ``hot_keys: {key_col: n_hot}``.
    """
    if max_df is None and max_frac is None:
        return base, 0, base_rows
    from candia_spark.operators.materialize import cut

    cap: Column = F.lit(max_df).cast("double")
    if max_frac is not None:
        ndocs = base.select(F.count_distinct(F.col(id_col)).alias("__ndocs"))
        frac_cap = F.col("__ndocs") * F.lit(max_frac)
        cap = frac_cap if max_df is None else F.least(cap, frac_cap)
        census = (
            base.groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("__df"))
            .crossJoin(F.broadcast(ndocs))
        )
    else:
        census = base.groupBy(key_col).agg(F.count(F.lit(1)).alias("__df"))
    hot, stats = cut(
        census.filter(F.col("__df") > cap).select(key_col),
        F.count(F.lit(1)).alias("n"),
    )
    n_hot = stats["n"]
    telemetry.record("hot_keys", **{key_col: n_hot})
    if n_hot == 0:
        return base, 0, base_rows
    capped, stats = cut(
        base.join(F.broadcast(hot), key_col, "left_anti"),
        F.count(F.lit(1)).alias("n"),
    )
    return capped, n_hot, stats["n"]


# Auto-mode routing constants for standalone exact Jaccard, both terms
# measured, not guessed (verdict r5 #1 — the round-5 single-term gate
# misrouted; the round-6 calibration sweep re-measured BOTH modes at
# x1/x3/x5 and reconciled with SCALING_r05's x10/x25/x50):
#
# - _PREFIX_AUTO_TOP_MASS_FRAC: fraction of the inverted-index join mass
#   (sum over shingles of df^2) in the top df percentile above which the
#   corpus is skewed-head and the prefix path wins outright at ANY size
#   (14x on the Zipf corpus — rare-first prefixes exclude exactly the
#   hot head every posting list shares).
# - _PREFIX_AUTO_JOIN_MASS: total join mass above which the prefix path
#   wins even on flat-df corpora, because its smaller joined mass keeps
#   the hash-agg working set in RAM as the plain join approaches the
#   one-box memory wall. Calibrated crossover (SCALING_r06.json
#   jaccard_crossover, minima over runs): plain wins below — 11.3 vs
#   26.1 s at mass 2.6e8 (x3), 18.2 vs 33.2 s at 4.4e8 (x5) — prefix
#   wins above — 110.9 vs 119.5 s at ~9e8 (x10), 508 vs 727 s at ~4.4e9
#   (x50). 6e8 sits between the measured regimes, biased toward plain
#   because prefix's mid-size loss (1.8x) is larger than plain's x10
#   loss (1.08x). Box-calibrated (128 GiB local[32]); on a cluster with
#   more aggregate memory the crossover shifts right, and a mid-band
#   misroute costs tens of percent, never an asymptotic blowup.
_PREFIX_AUTO_TOP_MASS_FRAC = 0.5
_PREFIX_AUTO_JOIN_MASS = 600_000_000

# Plain-mode probe-side partition key gate (r16 optimization round,
# guide §2.3 "aggregate before you shuffle"): partitioning the probe
# side by shingle scatters each result pair's join rows across tasks
# (a pair's rows live wherever its shared shingles hash), so the pair
# partial aggregation reduces almost nothing and the exchange before
# the final pair agg carries ~join-mass rows. When the BUILD side
# broadcasts, the join needs no co-location at all — partitioning the
# probe side by DOCUMENT makes every output pair (a, b) complete inside
# the one task holding doc a, the partial agg collapses it to exactly
# one row per pair, and the exchange carries |distinct pairs| rows
# instead of |join mass| (measured 6.4 -> 2.0 s steady-state on the
# sf0.1 q26 pair pass: 36.5M joined rows vs 10.3M pairs shuffled).
# The gate is the BROADCAST REGIME, decided driver-side from the auto
# census already in hand (zero extra jobs): 500k index rows ~ 8-10 MB
# serialized, inside the vanilla 10 MB autoBroadcastJoinThreshold with
# margin. Past it the planner sort-merge/shuffle-hash joins on shingle,
# where a doc-keyed probe repartition would be a wasted exchange AND
# would hand join parallelism back to the AQE input-byte coalescer (the
# 4x near-serial trap the shingle pin exists to avoid) — so at corpus
# scale the shingle pin stays, unconditionally.
_PAIR_PROBE_DOC_PARTITION_ROWS = 500_000

# The winnowed-fingerprint twin of the gate above (winnow_fingerprint_
# pairs): same collapsed-partial-agg rationale, lower ceiling because a
# fingerprint row carries a 32-char md5 digest (~3x the bytes of a
# (bigint, bigint) shingle row), and the build side is force-broadcast
# under the gate (~15 MB worst case) because the string index's
# ExistingRDD size estimate routes the planner to sort-merge on its own.
_WINNOW_PROBE_DOC_PARTITION_ROWS = 300_000


# Data-derived UP-bound for the probe-side parallelism pin (guide §2.2:
# size partitions by data). The pin's historical 2x-cores value is kept
# as the FLOOR: this round A/B-measured the verdict-suggested down-bound
# (par = min(2x cores, probe_rows / target)) and it LOSES — the pair
# engines' probe partitions EXPAND 100-200x through the join, and the
# per-doc hit mass is skewed, so fewer/larger partitions concentrate a
# hot doc's expansion in one wave (q81 interleaved A/B at local[32]:
# par=32 ran 15.9/15.9/38.3 s vs par=64 5.4/7.4/8.3 s on identical
# code). What survives measurement is the UP-bound: at corpus scale the
# census' join mass (the expansion's row count, already in hand — never
# an extra job) demands more than 2x-cores partitions or each carries an
# unbounded slice of the pair exchange (~16 B/row, targeting ~128 MB of
# expanded join output per task).
_PROBE_TARGET_EXPANDED_BYTES_PER_TASK = 128 * 1024 * 1024
_PROBE_EXPANDED_ROW_BYTES = 16
_PROBE_MAX_PARTITIONS = 40_000


def _probe_parallelism(
    df: DataFrame,
    expanded_rows: int | None = None,
) -> int:
    """Parallelism for the pinned probe-side repartition of the pair
    engines (the AQE-expansion pin: an exact repartition count is honored
    by AQE, a bare repartition(col) is not — without it AQE sizes the
    join stage by its megabyte INPUTS and runs the 10^7-row expansion
    near-serial). 2x cores, raised when the caller's census says the
    expanded join output needs more partitions to stay near
    ``_PROBE_TARGET_EXPANDED_BYTES_PER_TASK`` per task (the at-scale
    regime; a no-op at bench scale). Appends one ``probe: {partitions,
    clipped}`` entry per call; ``clipped`` is true when
    ``_PROBE_MAX_PARTITIONS`` lowered the count."""
    import math

    cores = df.sparkSession.sparkContext.defaultParallelism
    par = 2 * cores
    clipped = False
    if expanded_rows is not None and expanded_rows >= 0:
        need = math.ceil(
            expanded_rows
            * _PROBE_EXPANDED_ROW_BYTES
            / _PROBE_TARGET_EXPANDED_BYTES_PER_TASK
        )
        clipped = need > max(par, _PROBE_MAX_PARTITIONS)
        par = max(par, min(_PROBE_MAX_PARTITIONS, need))
    par = max(par, 1)
    telemetry.append("probe", partitions=par, clipped=clipped)
    return par


def _jaccard_mass_stats(index: DataFrame) -> dict:
    """The auto-routing census: ONE job over the materialized (capped)
    index returning ``{"total": sum(df^2), "top_mass_frac": float|None,
    "skewed": bool}``. total is the inverted-index join mass (the row
    count of the plain self-join before the id_a < id_b cut);
    top_mass_frac measures how much of it the high-df head carries. The
    df histogram (distinct df -> shingle count, a few hundred rows) is
    collected and the percentiles/head mass derived exactly driver-side —
    marginal next to the self-join either branch runs afterwards, and
    only paid in auto mode."""
    # One job, exact: collect the df HISTOGRAM (distinct df value ->
    # number of shingles at that df — at most as many rows as distinct
    # document frequencies, in practice a few hundred; bounded above by
    # the post-cap df range) and derive p50/p99/total/head-mass in exact
    # integer arithmetic driver-side. Replaces the round-5 two-job
    # percentile_approx + filtered-agg sequence: one pass instead of two
    # over the census, and the percentiles are exact.
    hist = (
        index.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .groupBy("__df")
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    )
    if not hist:
        return {
            "total": 0, "top_mass_frac": None, "skewed": False,
            "index_rows": 0,
        }
    buckets = sorted((int(r["__df"]), int(r["__n"])) for r in hist)
    n_shingles = sum(n for _, n in buckets)
    total = sum(df * df * n for df, n in buckets)
    index_rows = sum(df * n for df, n in buckets)
    if total == 0:
        return {
            "total": 0, "top_mass_frac": None, "skewed": False,
            "index_rows": index_rows,
        }

    def pct(q: float) -> int:
        # smallest df with cumulative shingle count >= q * n_shingles
        # (the inverted-CDF percentile definition percentile_approx
        # approximated before)
        target = q * n_shingles
        acc = 0
        for df, n in buckets:
            acc += n
            if acc >= target:
                return df
        return buckets[-1][0]

    p50, p99 = pct(0.5), pct(0.99)
    # a head must exist at all: with near-uniform dfs (mostly-unique text,
    # df ~1 everywhere) `df >= p99` degenerately matches the whole census
    # and the mass fraction saturates at 1.0 — but there is no head for
    # rare-first prefixes to exclude, so the prefix pass buys nothing.
    has_head = p99 >= 2 * max(p50, 1)
    frac = None
    skewed = False
    if has_head:
        top = sum(df * df * n for df, n in buckets if df >= p99)
        frac = round(top / total, 4)
        skewed = frac > _PREFIX_AUTO_TOP_MASS_FRAC
    return {
        "total": total, "top_mass_frac": frac, "skewed": skewed,
        "index_rows": index_rows,
    }


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 2,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    candidates: DataFrame | None = None,
    max_shingle_df: int | None = None,
    max_shingle_frac: float | None = None,
    index: DataFrame | None = None,
    prefix_filter: bool | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs over word n-gram shingle sets:
    J(A,B) = |A∩B| / (|A|+|B|-|A∩B|) >= threshold, id_a < id_b.

    The 100 TB contract is LSH-then-verify, and both halves are enforced
    here, not just documented:

    - ``candidates`` (id_a, id_b — e.g. :func:`minhash_lsh_pairs` output):
      when given, intersections are computed ONLY for those pairs — each
      document's shingle set is collected into a sorted array once and the
      candidate list joins those arrays, so n_common is one codegen'd
      ``array_intersect`` per pair with NO pair-times-shingles explosion
      (the explode-then-equijoin formulation shuffles |pairs| x |set| rows;
      the array form shuffles each doc's set once per pair side and was
      measured 4x faster on a 200k-candidate verify). Work is linear in
      candidate-pair set mass either way — the array form just moves it out
      of the shuffle. Pairs are canonicalized (least/greatest + distinct)
      so any orientation or duplication in the caller's list still honors
      the id_a < id_b output contract.
    - ``max_shingle_df`` / ``max_shingle_frac``: standalone mode's guard
      against hot shingles — see :func:`shingle_index`.
    - ``index``: a pre-built :func:`shingle_index` to reuse (the cap args
      are ignored then — the index carries its own capping). ALWAYS pass
      this when the same corpus also feeds :func:`minhash_lsh_pairs`:
      sharing the materialized index is what keeps the whole
      LSH-then-verify pipeline at one corpus scan.
    - ``prefix_filter`` (standalone mode only): the AllPairs/PPJoin prefix
      filter (Bayardo et al., WWW'07; Chaudhuri et al., ICDE'06). With
      every set ordered by a common (df asc, shingle) total order, a pair
      at Jaccard >= t MUST share one of each side's first
      |s| - ceil(t*|s|) + 1 elements (the smallest common element x sits
      at position <= |s| - o + 1 and o >= ceil(t*|s|)), so the self-join
      runs on prefix postings only and the survivors get the exact
      ``array_intersect`` verify. Exactness is preserved by construction
      (pinned exact-equal to the plain path across thresholds in pytest);
      what changes is the joined mass: sum of prefix-df^2 instead of
      df^2. Rare-first ordering concentrates prefixes on low-df shingles,
      so the pruning power tracks the skew of the shingle-df
      distribution — 14x faster on a Zipf-skewed 20k-doc corpus — and a
      second, size-driven win condition exists on flat-df corpora: as the
      plain join's hash-agg working set approaches the one-box memory
      wall, the prefix pass's smaller joined mass wins (508 vs 727 s at
      x50, 186 vs 216 s at x25), while BELOW that regime the census/
      sort/distinct overhead makes prefix slower (26 vs 11 s at x3;
      SCALING_r05 jaccard_modes + SCALING_r06 jaccard_crossover).

      The DEFAULT (``prefix_filter=None``) is therefore a measured
      TWO-TERM decision (round-6 change — the round-5 head-mass-only
      gate misrouted the large flat-df sizes to the 1.43x slower plain
      join): the auto census routes to prefix iff the head carries most
      of the join mass (skew term) OR the total join mass exceeds the
      calibrated working-set crossover (size term, see
      ``_PREFIX_AUTO_JOIN_MASS``). Both paths are answer-preserving and
      equivalence-pinned in pytest, so routing is a pure performance
      choice. Pass True/False to pin a mode; the decision and both
      statistics are recorded as the ``jaccard`` telemetry entry.
    """
    if candidates is not None and prefix_filter:
        # standalone-mode-only contract: the candidates branch would win
        # silently and the flag would do nothing — fail loudly instead.
        raise ValueError(
            "prefix_filter applies to standalone (self-join) mode only; "
            "it has no effect when a candidates list is supplied"
        )
    from candia_spark.operators.materialize import cut

    if index is None:
        index = shingle_index(
            df, n, text_col, id_col, max_shingle_df, max_shingle_frac
        )
    sh = index
    auto_stats: dict | None = None
    if candidates is None and prefix_filter is None:
        # round-6 two-term auto default: prefix iff the corpus is
        # skewed-head (the Zipf regime, any size) OR the total join mass
        # exceeds the calibrated one-box crossover (the working-set
        # regime the round-5 head-mass-only gate could not see). Below
        # both, the plain inverted-index join's lack of census/sort/
        # distinct overhead wins — measured at x1-x5 (see the constants
        # above and SCALING_r06.json jaccard_crossover).
        stats = _jaccard_mass_stats(sh)
        auto_stats = stats
        # threshold <= 0 never routes to prefix: the AllPairs prefix
        # length |s| - ceil(t*|s|) + 1 is the WHOLE set at t = 0, so the
        # "filtered" join degenerates to the plain join plus the census/
        # sort/distinct overhead. This is what lets unthresholded callers
        # (ngram_containment_pairs) use auto mode and still get the
        # census-gated probe partitioning below.
        prefix_filter = bool(
            threshold > 0.0
            and (stats["skewed"] or stats["total"] > _PREFIX_AUTO_JOIN_MASS)
        )
        telemetry.record(
            "jaccard",
            mode="prefix" if prefix_filter else "plain",
            auto=True,
            top_mass_frac=stats["top_mass_frac"],
            join_mass=stats["total"],
            skewed=stats["skewed"],
        )
    elif candidates is None:
        telemetry.record(
            "jaccard",
            mode="prefix" if prefix_filter else "plain",
            auto=False,
            top_mass_frac=None,
        )
    if candidates is not None:
        # verify mode: one sorted set-array per document, one
        # array_intersect per candidate pair. The set tables are doc-count
        # rows (auto-broadcast when small; shuffle-hash join at scale).
        canon = (
            candidates.select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .distinct()
        )
        sets = sh.groupBy(id_col).agg(
            F.sort_array(F.collect_list("shingle")).alias("__set")
        )
        inter = (
            canon.join(
                sets.select(
                    F.col(id_col).alias("id_a"), F.col("__set").alias("__set_a")
                ),
                "id_a",
            )
            .join(
                sets.select(
                    F.col(id_col).alias("id_b"), F.col("__set").alias("__set_b")
                ),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("__set_a", "__set_b"))
                .cast("bigint")
                .alias("n_common"),
                F.size("__set_a").cast("bigint").alias("size_a"),
                F.size("__set_b").cast("bigint").alias("size_b"),
            )
        )
    elif prefix_filter:
        # one census + one ordered-set build, MATERIALIZED: three
        # consumers read it (the prefix explode and both sides of the
        # verify join) — without the cut each would re-run the census
        # join and the per-doc sort
        dfc = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
        osets = sh.join(dfc, "shingle").groupBy(id_col).agg(
            F.sort_array(F.collect_list(F.struct("__df", "shingle"))).alias(
                "__oset"
            )
        )
        sets, _ = cut(
            osets.select(
                F.col(id_col),
                F.transform("__oset", lambda x: x["shingle"]).alias("__set"),
                F.size("__oset").alias("__sz"),
            )
        )
        plen = F.greatest(
            F.col("__sz")
            - F.ceil(F.lit(threshold) * F.col("__sz")).cast("int")
            + F.lit(1),
            F.lit(1),
        )
        pre = sets.select(
            F.col(id_col), F.explode(F.slice("__set", F.lit(1), plen)).alias("shingle")
        )
        # parallelism pin on the probe side only — same rationale as the
        # plain branch below (broadcastable build stays unshuffled; at
        # scale EnsureRequirements co-partitions it itself). The census'
        # total join mass (an over-count of the prefix join mass, so a
        # conservative bound) raises par past 2x cores at corpus scale.
        par = _probe_parallelism(
            index,
            expanded_rows=(
                auto_stats["total"] if auto_stats is not None else None
            ),
        )
        cand = (
            pre.select(F.col(id_col).alias("id_a"), "shingle")
            .repartition(par, "shingle")
            .join(pre.select(F.col(id_col).alias("id_b"), "shingle"), "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        inter = (
            cand.join(
                sets.select(
                    F.col(id_col).alias("id_a"),
                    F.col("__set").alias("__set_a"),
                    F.col("__sz").alias("size_a"),
                ),
                "id_a",
            )
            .join(
                sets.select(
                    F.col(id_col).alias("id_b"),
                    F.col("__set").alias("__set_b"),
                    F.col("__sz").alias("size_b"),
                ),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("__set_a", "__set_b"))
                .cast("bigint")
                .alias("n_common"),
                F.col("size_a").cast("bigint").alias("size_a"),
                F.col("size_b").cast("bigint").alias("size_b"),
            )
        )
    else:
        sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
        # The inverted-index self-join EXPANDS: its output is sum(df^2)
        # rows, orders of magnitude beyond its input bytes. AQE sizes
        # post-shuffle partitions by INPUT bytes and is blind to that
        # expansion — left alone it coalesces the join stage to a handful
        # of tasks and the 10^7-row partial aggregation runs near-serial
        # (measured 4x slower at sf0.1). Pin the join parallelism
        # explicitly on the PROBE side only: an exact repartition count is
        # honored by AQE, a bare repartition(col) is not. The build side
        # gets no manual exchange — when the index fits the broadcast
        # threshold the planner broadcasts it (repartitioning a broadcast
        # build is pure wasted shuffle), and at corpus scale
        # EnsureRequirements inserts the co-partitioning exchange itself.
        par = _probe_parallelism(
            index,
            expanded_rows=(
                auto_stats["total"] if auto_stats is not None else None
            ),
        )
        # Probe partition KEY is regime-dependent (see
        # _PAIR_PROBE_DOC_PARTITION_ROWS): in the broadcast regime a
        # doc-keyed probe makes the pair partial agg collapse fully, so
        # the exchange before the final agg carries |pairs| rows, not
        # |join mass|; past it the shingle pin (co-partitioning the
        # eventual sort-merge join at exactly `par`) stays. Only decided
        # when the auto census already ran — explicit prefix_filter=False
        # callers keep the unconditional shingle pin (no census job is
        # added on their behalf).
        probe_key = "shingle"
        if (
            auto_stats is not None
            and auto_stats["index_rows"] <= _PAIR_PROBE_DOC_PARTITION_ROWS
        ):
            probe_key = id_col
        telemetry.record(
            "jaccard", probe="doc" if probe_key == id_col else "shingle"
        )
        a = sh.repartition(par, probe_key).select(
            F.col(id_col).alias("id_a"), "shingle"
        )
        b = sh.select(F.col(id_col).alias("id_b"), "shingle")
        if probe_key == id_col:
            # the gate certified the build side broadcastable — force it
            # so the doc-keyed probe never lands under a sort-merge join
            # on a session whose size estimate disagrees (a wasted
            # exchange there); the hint changes strategy, never results
            b = F.broadcast(b)
        pair_counts = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        # sizes join AFTER the pair agg: the pair table is the big side but
        # both size joins broadcast (sizes is doc-count rows), measured
        # faster than carrying sizes through the 10^7-row shingle join
        inter = pair_counts.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a")),
            "id_a",
        ).join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b")),
            "id_b",
        )
    out = inter.withColumn(
        "jaccard",
        (
            F.col("n_common")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
        ).cast("double"),
    ).filter(F.col("jaccard") >= threshold)
    return out.select("id_a", "id_b", "n_common", "size_a", "size_b", "jaccard")


def _minhash_agg(
    index: DataFrame, num_hashes: int, id_col: str
) -> DataFrame:
    """(id, h0..h{k-1}) minhash columns from a shingle index.

    Each shingle STRING was hashed exactly once upstream; the k
    permutations re-hash the resulting bigint with a per-permutation seed
    (xxhash64(h64, i)) — bigint hashing is ~wordlength work vs per-byte
    string hashing, so this is ~k-fold cheaper than hashing the string k
    times at identical uniformity.
    """
    # one SQL string per column: built from F.* calls, each column cost
    # about eight py4j round trips
    hashed = index.select(
        F.col(id_col),
        *[F.expr(f"xxhash64(shingle, {i}) AS h{i}") for i in range(num_hashes)],
    )
    return hashed.groupBy(id_col).agg(
        *[F.expr(f"min(h{i}) AS h{i}") for i in range(num_hashes)]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = 1000,
    index: DataFrame | None = None,
    with_est_jaccard: bool = True,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash: documents agreeing
    on all rows of any band collide. Output: (id_a, id_b, n_bands_hit,
    est_jaccard = fraction of agreeing minhashes).

    ``with_est_jaccard=False`` drops the est_jaccard column and with it the
    two signature joins that produce it — the right call in
    LSH-then-verify pipelines (:func:`dedup_corpus`, q27), where exact
    Jaccard supersedes the estimate and the candidate list only needs ids.

    Scale: pair generation happens inside band buckets only — a self-join
    on (band_idx, band_hash), never on the full doc set. Hot buckets are
    the skew risk: a bucket of B docs is B²/2 pairs, so an uncapped 1M-doc
    bucket is a 10¹²-pair explosion. Buckets over ``max_bucket_size``
    (ENFORCED, default 1000) are NOT dropped — for a giant near-dup cluster
    every band bucket IS the whole cluster, so dropping hot buckets would
    yield zero pairs exactly where dedup matters most. Instead each hot
    bucket emits STAR pairs to its min-id representative: B-1 pairs instead
    of B²/2, preserving cluster connectivity (every member pairs with the
    representative, so a connected-components / keep-min-id consumer
    collapses the cluster identically). Pairs between two non-representative
    members of a hot bucket are the only recall loss, and they are
    irrelevant for dedup-by-representative.

    Pass ``index`` (a shared :func:`shingle_index`) whenever exact
    verification follows — that keeps LSH-then-verify at ONE corpus scan.
    """
    if bands <= 0 or num_hashes % bands:
        # fail before the expensive index/signature materialization;
        # _band_table re-checks for callers that band directly
        raise ValueError(
            f"bands ({bands}) must evenly divide num_hashes ({num_hashes})"
        )
    from candia_spark.operators.materialize import cut

    if index is None:
        index = shingle_index(df, n, text_col, id_col)
    # Materialize the signature table: the expensive 32-hash + groupBy-min
    # shuffle runs once; both self-join sides, the bucket census, the
    # hot-bucket representative lookup, and the post-agg est_jaccard joins
    # all read the materialized blocks.
    agg, _ = cut(_minhash_agg(index, num_hashes, id_col))
    # band hash straight off the bigint minhash columns (no string concat).
    # The banded table carries ONLY (id, band_idx, band_hash) — signatures
    # are joined back AFTER the pair aggregation, so the bucket self-join
    # and the groupBy never shuffle the k-long signature arrays (bands x
    # k longs per doc through the exchange otherwise; measured ~2x on a
    # 200k-candidate run, and the saving grows with corpus size).
    # _band_table is the ONE definition of the band hash — bipartite
    # consumers (incremental_near_dups) must collide compatibly with this
    # self-join path, so there must be exactly one copy to drift.
    banded = _band_table(agg, num_hashes, bands, id_col)
    a = banded.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
    b = banded.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
    hot = None
    if max_bucket_size is not None:
        # hot-bucket census is tiny (only buckets over the cap, with their
        # min-id representative) — broadcast, no extra shuffle of banded.
        # The cap usually doesn't bite (hot buckets are pathological by
        # definition), so cut the over-cap set first — one small job over
        # the materialized signatures, its size observed on that job —
        # and keep the plain self-join plan (no anti-joins, no star
        # branch, no union) when it is empty. Same eager-census trick as
        # shingle_index's hot set; measured ~2s of per-call
        # broadcast/anti-join overhead at sf0.1.
        hot, stats = cut(
            banded.groupBy("band_idx", "band_hash")
            .agg(F.count(F.lit(1)).alias("__n"), F.min(id_col).alias("__rep"))
            .filter(F.col("__n") > max_bucket_size)
            .select("band_idx", "band_hash", "__rep"),
            F.count(F.lit(1)).alias("n"),
        )
        telemetry.record("minhash", hot_buckets=stats["n"])
        if stats["n"] == 0:
            hot = None
    if hot is not None:
        hot_keys = F.broadcast(hot.select("band_idx", "band_hash"))
        cold_a = a.join(hot_keys, ["band_idx", "band_hash"], "left_anti")
        cold_b = b.join(hot_keys, ["band_idx", "band_hash"], "left_anti")
        cold_pairs = cold_a.join(cold_b, ["band_idx", "band_hash"]).filter(
            F.col("id_a") < F.col("id_b")
        )
        # star pairs: representative (bucket min id, so always id_a) x each
        # other member of the hot bucket
        star_pairs = (
            b.join(F.broadcast(hot), ["band_idx", "band_hash"])
            .filter(F.col("id_b") != F.col("__rep"))
            .select(F.col("__rep").alias("id_a"), "id_b")
        )
        pairs_src = cold_pairs.select("id_a", "id_b").unionByName(star_pairs)
    else:
        pairs_src = (
            a.join(b, ["band_idx", "band_hash"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
    pairs = pairs_src.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_bands_hit")
    )
    if not with_est_jaccard:
        return pairs
    sig = agg.select(
        F.col(id_col),
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"),
    )
    with_sigs = pairs.join(
        sig.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a")),
        "id_a",
    ).join(
        sig.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b")),
        "id_b",
    )
    agree = F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int"))
    return with_sigs.select(
        "id_a",
        "id_b",
        "n_bands_hit",
        F.round(
            F.aggregate(agree, F.lit(0), lambda acc, v: acc + v) / F.lit(num_hashes), 6
        )
        .cast("double")
        .alias("est_jaccard"),
    )


def _band_table(
    agg: DataFrame, num_hashes: int, bands: int, id_col: str
) -> DataFrame:
    """(id, band_idx, band_hash) from a :func:`_minhash_agg` table — the
    same banding expression :func:`minhash_lsh_pairs` inlines (xxhash64
    over each band's minhash columns), extracted so BIPARTITE consumers
    band two independently-built signature tables compatibly: identical
    shingle hashing + identical permutation seeds + identical band hash
    means a new-batch band collides with a corpus band iff a self-join
    band would."""
    if bands <= 0 or num_hashes % bands:
        # bands > num_hashes would give zero rows per band — a CONSTANT
        # band hash that collides everything with everything (a full cross
        # join); a non-divisor silently discards trailing hashes and
        # falsifies the 1-(1-J^r)^b recall math. Both are config bugs.
        raise ValueError(
            f"bands ({bands}) must evenly divide num_hashes ({num_hashes})"
        )
    rows_per_band = num_hashes // bands
    band_hashes = ", ".join(
        "xxhash64(" + ", ".join(
            f"h{b * rows_per_band + r}" for r in range(rows_per_band)
        ) + ")"
        for b in range(bands)
    )
    return agg.select(
        F.col(id_col),
        F.expr(f"posexplode(array({band_hashes}))").alias("band_idx", "band_hash"),
    )


def incremental_near_dups(
    new_df: DataFrame,
    corpus_df: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 16,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_corpus_bucket: int | None = None,
    new_index: DataFrame | None = None,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicates of an INCOMING batch against an EXISTING corpus:
    (new_id, corpus_id, n_common, size_new, size_corpus, jaccard) for
    every cross pair with exact n-gram Jaccard >= ``threshold``. The
    incremental twin of :func:`minhash_lsh_pairs` + verify — the shape a
    rolling ingestion pipeline actually runs: yesterday's corpus is
    already indexed/deduplicated, today's batch must be checked against
    it without re-pairing the corpus with itself.

    Candidates come from a BIPARTITE banded-minhash join — new-side bands
    against corpus-side bands only, never corpus x corpus — so the
    per-batch cost scales with |batch| x collision mass, independent of
    the corpus pair space. The two shingle indexes hash shingles and
    permutations identically (:func:`_band_table`), so cross-side
    collisions behave exactly like self-join collisions: a cross pair at
    the tau=0.7 verify threshold is a candidate with probability
    1-(1-tau^2)^16 ~ 1-2e-5 (the q27 banding argument), which the q54
    oracle comparison checks end to end. Verification computes exact
    Jaccard per candidate from each side's sorted shingle-set arrays
    (the candidates-mode formulation of :func:`ngram_jaccard_pairs`,
    oriented: sides stay labeled new/corpus instead of canonicalized).

    ``corpus_index`` (a persisted :func:`shingle_index`) skips
    re-tokenizing the corpus text, but still re-minhashes/re-bands the
    index and rebuilds the set arrays per call — per-batch cost is
    corpus-LINEAR (one index scan + aggs).

    ``new_index`` exists for the parallel reason (a caller that already
    indexed the batch for exact dedup shares the scan).

    ``max_corpus_bucket`` bounds hot buckets on the corpus side: a corpus
    band bucket holding a giant near-dup cluster pairs EVERY colliding
    batch doc with the whole cluster, so when set, each corpus bucket
    keeps only its ``max_corpus_bucket`` min-id members as candidates —
    join mass is bounded at |batch collisions| x cap. The trade is
    real and should be understood precisely: for a TIGHT cluster (members
    mutually >= the verify threshold) the batch doc still verifies
    against a surviving representative, but a batch doc whose ONLY
    above-threshold partner is a non-representative member of a looser
    cluster (mutual similarity above the banding's collision range yet
    below the verify threshold) can be missed — the cap trades recall at
    cluster margins for bounded cost, the same shape of loss as
    :func:`minhash_lsh_pairs`' star cap. Default None: exact candidate
    list (the q54 oracle certifies that form).
    """
    new_idx = (
        new_index
        if new_index is not None
        else shingle_index(new_df, n, text_col, id_col)
    )
    new_agg = _minhash_agg(new_idx, num_hashes, id_col)
    corp_idx = (
        corpus_index
        if corpus_index is not None
        else shingle_index(corpus_df, n, text_col, id_col)
    )
    corp_agg = _minhash_agg(corp_idx, num_hashes, id_col)
    corp_banded = _band_table(corp_agg, num_hashes, bands, id_col).select(
        F.col(id_col).alias("corpus_id"), "band_idx", "band_hash"
    )
    corp_sets = corp_idx.groupBy(id_col).agg(
        F.sort_array(F.collect_list("shingle")).alias("__set_c")
    ).select(F.col(id_col).alias("corpus_id"), "__set_c")
    if max_corpus_bucket is not None:
        wb = Window.partitionBy("band_idx", "band_hash").orderBy("corpus_id")
        corp_banded = (
            corp_banded.withColumn("__r", F.row_number().over(wb))
            .filter(F.col("__r") <= max_corpus_bucket)
            .drop("__r")
        )
    cands = (
        _band_table(new_agg, num_hashes, bands, id_col)
        .select(F.col(id_col).alias("new_id"), "band_idx", "band_hash")
        .join(corp_banded, ["band_idx", "band_hash"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    new_sets = new_idx.groupBy(id_col).agg(
        F.sort_array(F.collect_list("shingle")).alias("__set_n")
    )
    verified = (
        cands.join(
            new_sets.select(F.col(id_col).alias("new_id"), "__set_n"), "new_id"
        )
        .join(corp_sets, "corpus_id")
        .select(
            "new_id",
            "corpus_id",
            F.size(F.array_intersect("__set_n", "__set_c"))
            .cast("bigint")
            .alias("n_common"),
            F.size("__set_n").cast("bigint").alias("size_new"),
            F.size("__set_c").cast("bigint").alias("size_corpus"),
        )
    )
    jac = (
        F.col("n_common").cast("double")
        / (F.col("size_new") + F.col("size_corpus") - F.col("n_common"))
    ).cast("double")
    return verified.select(
        "new_id",
        "corpus_id",
        "n_common",
        "size_new",
        "size_corpus",
        jac.alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def _union_find_labels(edges) -> list[tuple]:
    """Driver-side union-find over a bounded iterable of (a, b) edges:
    (node, min-id rep) for every node appearing in an edge — the
    small-graph fast path of :func:`connected_components` (same output
    contract as the distributed star contraction)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so every root IS its component's min id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(node, find(node)) for node in parent]


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    small_graph_max_edges: int | None = 1_000_000,
) -> DataFrame:
    """Collapse a near-duplicate pair graph into components: one row per
    node, labeled with its component's minimum id. Output: (node, rep).

    This is the consumer the pair generators (minhash_lsh_pairs /
    ngram_jaccard_pairs / cosine_dup_pairs) are designed for — including
    the hot-bucket star pairs, whose connectivity contract ("every member
    pairs with the representative") exists precisely so this collapse
    yields the same components as the uncapped pair set.

    Algorithm: alternating large-star / small-star contractions (the
    standard MapReduce connected-components formulation — converges in
    O(log^2 n) rounds, each round one groupBy-min plus one equi-join, so
    the per-round shuffle carries edge rows only, never component
    membership lists):

    - large-star: every node v > u moves its edge to m(u) = min of u's
      neighborhood including u.
    - small-star: every smaller-side neighbor of u (and u itself) edges to
      the minimum of u's smaller-side neighborhood.

    Each round's edge set is materialized (lineage truncation — iterative
    plans otherwise grow exponentially) and convergence is detected by an
    order-insensitive (count, xor-hash) fingerprint observed ON the
    materialization pass itself (Observation API), so every round is
    exactly ONE Spark job. Dedup graphs converge in a handful of rounds:
    near-dup clusters are near-cliques, and star pairs are depth-1 already.

    Size-adaptive: the initial materialization already observes the edge
    count for free, and a generate-then-verify pair graph is orders of
    magnitude smaller than its corpus by construction. When it fits
    ``small_graph_max_edges`` the collapse finishes with a driver-side
    union-find — one Arrow collect + one parallelize instead of
    ~log^2(n) shuffle rounds, worth multiple whole-job round-trips per
    call. Driver cost at the 1M-edge default ceiling: ~16 MB over the
    wire (Arrow columnar), but the union-find dict is Python objects at
    ~100 B/entry, i.e. a few hundred MB worst-case — that object
    overhead, not the transfer, is what sizes the ceiling. Larger graphs
    (a 100 TB corpus can emit billions of verified pairs) take the
    distributed path untouched; pass ``small_graph_max_edges=None`` to
    force it.
    """
    from candia_spark.operators.materialize import cut

    def _cut_fingerprinted(df: DataFrame) -> tuple[DataFrame, tuple]:
        """One Spark job per round: the convergence fingerprint (count,
        xor-hash) rides the cut's own job instead of a second agg job
        over the stored edges."""
        out, stats = cut(
            df,
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(a, b))").alias("h"),
        )
        return out, (stats["n"], stats["h"])

    e, (n_edges, _) = _cut_fingerprinted(
        pairs.select(
            F.least(id_a, id_b).alias("a"), F.greatest(id_a, id_b).alias("b")
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    if small_graph_max_edges is not None and n_edges <= small_graph_max_edges:
        # Arrow-columnar collect (toPandas), NOT .collect(): 2 longs/edge
        # on the wire instead of a pyspark Row object per edge.
        pdf = e.toPandas()
        labels = _union_find_labels(zip(pdf["a"].tolist(), pdf["b"].tolist()))
        telemetry.record("cc", rounds=0, edges=n_edges)
        schema = StructType(
            [
                StructField("node", e.schema["b"].dataType),
                StructField("rep", e.schema["a"].dataType),
            ]
        )
        return e.sparkSession.createDataFrame(labels, schema)

    def _superstep(edges: DataFrame) -> DataFrame:
        """One large-star + small-star contraction. No intermediate
        distinct: large-star emits exactly one row per input edge (each
        undirected edge is seen with v > u once), so the blowup bound is
        2|E| rows into small-star's explode — the final distinct dedups
        everything in one exchange instead of two."""
        d = edges.select(
            F.col("a").alias("u"), F.col("b").alias("v")
        ).unionByName(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
        mins = d.groupBy("u").agg(F.min("v").alias("__mn"))
        m = F.least(F.col("__mn"), F.col("u"))
        # large-star: v > u re-edges to m(u); m <= u < v so a < b holds
        large = (
            d.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(m.alias("a"), F.col("v").alias("b"))
        )
        # small-star over edges oriented big -> small (u = b side)
        s = large.select(F.col("b").alias("u"), F.col("a").alias("v"))
        mins2 = s.groupBy("u").agg(F.min("v").alias("__mn"))
        return (
            s.join(mins2, "u")
            .select(
                F.col("__mn").alias("a"),
                F.explode(F.array("u", "v")).alias("b"),
            )
            .filter(F.col("a") < F.col("b"))
            .distinct()
        )

    prev_fp = None
    rounds = 0
    for it in range(max_iter):
        small = _superstep(e)
        # bit_xor: order-insensitive over the (distinct) edge set and
        # cannot overflow (ANSI mode makes a plain sum of hashes throw)
        e, fp = _cut_fingerprinted(small)
        rounds = it + 1
        if prev_fp == fp:
            break
        prev_fp = fp
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    telemetry.record("cc", rounds=rounds, edges=n_edges)
    # At the fixpoint the edge set IS a star forest rooted at component
    # minima: members appear as b exactly once, roots only as a. Every
    # node of the input pair graph appears (pairs have no singletons), so
    # labels come straight off the converged edges — no join back to the
    # original node set.
    labels = e.select(
        F.col("b").alias("node"), F.col("a").alias("rep")
    ).unionByName(
        e.select(F.col("a").alias("node"), F.col("a").alias("rep")).distinct()
    )
    return labels


def dedup_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    n: int = 2,
    num_hashes: int = 32,
    bands: int = 16,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """End-to-end corpus dedup: the composition a training-data pipeline
    actually runs. Returns the SURVIVING rows of ``df``.

    1. exact dedup first (md5 digest, keep min id) — this is also what
       makes the near-dup hot-bucket star-pair cap safe: giant identical
       clusters collapse here, before LSH ever sees them.
    2. near-dup dedup on the exact survivors: one shared shingle index ->
       banded MinHash candidates -> exact-Jaccard verify at ``threshold``
       -> connected-components collapse -> drop every non-representative.

    Scale: each stage is the capped/shared-index form documented on its
    operator; the final keeps are two left-anti/semi joins on bare ids.
    """
    keep_exact = exact_dedup(df, text_col, id_col).select(id_col)
    survivors = df.join(keep_exact, id_col, "left_semi")
    idx = shingle_index(survivors, n, text_col, id_col)
    cands = minhash_lsh_pairs(
        survivors,
        num_hashes=num_hashes,
        bands=bands,
        n=n,
        text_col=text_col,
        id_col=id_col,
        max_bucket_size=max_bucket_size,
        index=idx,
        with_est_jaccard=False,
    )
    pairs = ngram_jaccard_pairs(
        survivors,
        n=n,
        threshold=threshold,
        text_col=text_col,
        id_col=id_col,
        candidates=cands,
        index=idx,
    )
    drop = (
        connected_components(pairs)
        .filter(F.col("node") != F.col("rep"))
        .select(F.col("node").alias(id_col))
    )
    return survivors.join(drop, id_col, "left_anti")


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing at least
    ``min_overlap`` distinct word n-gram shingles with ANY benchmark
    document. Output: (id, n_shared_shingles) for flagged docs — the keep
    set is then one anti-join on bare ids.

    This is the eval-leakage guard every serious training-data pipeline
    runs (the GPT-3/Gopher appendices document the same n-gram-overlap
    formulation). Scale shape: benchmark suites are tiny relative to a
    100 TB corpus, so the benchmark shingle-hash set (distinct, deduped
    across benchmark docs) BROADCASTS, and the corpus side is a pure
    map-side hash-join probe on its one shingle scan — no corpus shuffle
    until the per-doc overlap count, which carries only matched (id,
    shingle-hash) rows. Matched mass is bounded by |benchmark shingles| x
    their corpus df, not by corpus size.
    """
    c_idx = word_ngram_hashes(corpus, n, text_col, id_col)
    b_sh = (
        word_ngram_hashes(benchmark, n, text_col, id_col)
        .select("shingle")
        .distinct()
    )
    return (
        c_idx.join(F.broadcast(b_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_shingles"))
        .filter(F.col("n_shared_shingles") >= min_overlap)
    )


def contamination_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    heavy_num: int = 1,
    heavy_den: int = 5,
) -> DataFrame:
    """Span-level contamination coverage: for each corpus document sharing
    at least one word n-gram with the benchmark set, the COUNT OF TOKEN
    POSITIONS covered by any colliding n-gram — the GPT-3/PaLM appendix
    formulation, where a document is judged not by whether it overlaps an
    eval item but by HOW MUCH of it the overlap covers (a stray idiom is
    one collision; a verbatim eval question is a long covered span).

    Output per contaminated document: (id, n_tokens, n_contaminated,
    heavy) with heavy = 1 iff n_contaminated/n_tokens >= heavy_num/
    heavy_den, cross-multiplied in bigint so no division or float ever
    enters the gate (the q84 device). ``decontaminate`` answers "does it
    overlap"; this answers "is the overlap a span worth dropping the doc
    for" — the knob real pipelines split on.

    Scale shape: identical to decontaminate — the benchmark shingle-hash
    set broadcasts, the corpus side is one positioned-shingle scan
    probing it map-side, and ONLY matched rows (mass bounded by
    |benchmark shingles| x their corpus df, times n for the position
    expansion) reach the per-doc aggregation. n_tokens rides the probe
    rows as a per-row scalar, so no second corpus scan or join-back is
    needed. The position expansion is exact coverage, not an
    approximation: overlapping collisions count each token once
    (count(DISTINCT position))."""
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    if heavy_den <= 0 or heavy_num < 0:
        # heavy_den=0 would not divide-by-zero (the gate cross-multiplies)
        # but it silently turns the flag into a constant — refuse instead
        raise ValueError(
            f"heavy threshold must be >= 0 with a positive denominator, "
            f"got {heavy_num}/{heavy_den}"
        )
    tdf = corpus.select(F.col(id_col), tokens_col(text_col).alias("__t"))
    sh = tdf.select(
        F.col(id_col),
        F.size("__t").cast("bigint").alias("n_tokens"),
        F.posexplode(
            F.transform(_shingle_array(F.col("__t"), n), lambda s: F.xxhash64(s))
        ).alias("pos", "shingle"),
    )
    b_sh = (
        word_ngram_hashes(benchmark, n, text_col, id_col)
        .select("shingle")
        .distinct()
    )
    covered = sh.join(F.broadcast(b_sh), "shingle").select(
        F.col(id_col),
        "n_tokens",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
        ).alias("cp"),
    )
    return covered.groupBy(id_col).agg(
        F.first("n_tokens").alias("n_tokens"),
        F.count_distinct("cp").cast("bigint").alias("n_contaminated"),
    ).withColumn(
        "heavy",
        (
            F.col("n_contaminated") * F.lit(heavy_den)
            >= F.col("n_tokens") * F.lit(heavy_num)
        ).cast("bigint"),
    )


def canonical_docs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality: Column | None = None,
) -> DataFrame:
    """Canonical-member selection — the policy half of near-dup collapse.
    ``connected_components`` says which docs are the same; this says which
    COPY to keep: per component, the member with the highest quality
    (default: token count — "keep the longest", the C4/CCNet convention),
    ties broken by smallest id so the answer is engine-exact. Singletons
    keep themselves.

    Output: one row per component — (rep, keep_id, n_members,
    best_quality). A keep-only corpus is then one semi-join of the corpus
    against keep_id; a drop-list is the anti-join. Pass ``quality`` to
    keep by any per-doc integer score instead (e.g. a quality-classifier
    column) — it must be deterministic and integer/exact for the oracle
    gate stance to hold.

    Scale shape: the component collapse is bounded by verified-pair mass;
    member labeling is one join of (id, quality) 16-byte rows against the
    component table (AQE broadcasts the component side when small); then
    one keyed agg for (count, max), one keyed join back on rep, and one
    keyed agg for the tie-break min — every shuffle is keyed on rep, no
    window over the corpus, text never shuffles."""
    comp = connected_components(pairs)
    q = (
        quality
        if quality is not None
        else F.size(tokens_col(text_col)).cast("bigint")
    )
    from candia_spark.operators.materialize import cut

    members, _ = cut(
        df.select(F.col(id_col), q.alias("__q"))
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.col("__q"),
            F.coalesce("rep", F.col(id_col)).alias("rep"),
        )
    )
    best = members.groupBy("rep").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.max("__q").alias("best_quality"),
    )
    return (
        members.join(best, "rep")
        .filter(F.col("__q") == F.col("best_quality"))
        .groupBy("rep", "n_members", "best_quality")
        .agg(F.min(id_col).alias("keep_id"))
        .select(
            "rep",
            "keep_id",
            "n_members",
            F.col("best_quality").cast("bigint").alias("best_quality"),
        )
    )


def simhash_bits_md5(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Cross-engine-checkable SimHash variant: the per-token hash is md5
    (hex output is identical in every engine, unlike Spark's xxhash64), and
    the signature is emitted as a 64-char '0'/'1' bitstring (``sigbits``)
    instead of a packed bigint — assembling bit 63 into a BIGINT overflows
    ANSI engines that don't wrap on signed overflow.

    Bit j of a token = bit (j mod 4) of hex nibble j//4 of md5(token);
    signature bit j = 1 iff the +-1 sum over tokens is > 0. md5 costs
    more on the JVM than xxhash64, but it lets the driver's DuckDB oracle
    recompute the FULL algorithm value-exactly (q28).
    """
    toks = df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("tok"))
    # only the first 16 hex chars (64 bits) matter; two 8-char chunks become
    # 32-bit ints so bit extraction is pure shift/mask (no per-nibble array)
    chunked = toks.select(
        F.col(id_col),
        F.expr("cast(conv(substr(md5(tok), 1, 8), 16, 10) as bigint)").alias("c1"),
        F.expr("cast(conv(substr(md5(tok), 9, 8), 16, 10) as bigint)").alias("c2"),
    )

    def _bit(j: int):
        chunk = F.col("c1") if j < 32 else F.col("c2")
        nib_in_chunk = (j // 4) % 8
        shift = 4 * (7 - nib_in_chunk) + (j % 4)
        return F.shiftright(chunk, shift).bitwiseAND(F.lit(1))

    # branch-free +-1 (same values, ~3x less generated code than
    # when/otherwise on a 64-column select)
    per_bit = chunked.select(
        F.col(id_col),
        *[(_bit(j) * 2 - 1).alias(f"b{j}") for j in range(64)],
    )
    sums = per_bit.groupBy(id_col).agg(
        *[F.sum(f"b{j}").alias(f"b{j}") for j in range(64)]
    )
    # bitstring via one interpreted higher-order transform over a 64-slot
    # array instead of a 64-term codegen'd concat: rows here are one per
    # DOCUMENT (post-agg), so interpretation cost is nil and the janino
    # class shrinks by the whole concat chain.
    return sums.select(
        F.col(id_col),
        F.array_join(
            F.transform(
                F.array(*[F.col(f"b{j}") for j in range(64)]),
                lambda s: F.when(s > 0, F.lit("1")).otherwise(F.lit("0")),
            ),
            "",
        ).alias("sigbits"),
    )


def substring_duplication(
    df: DataFrame,
    gram_chars: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Substring-level duplication profile — the distributed approximation
    of exact-substring dedup (Lee et al., "Deduplicating Training Data
    Makes Language Models Better": long verbatim substrings shared across
    documents are the highest-value dedup target, and a suffix array is
    the exact single-machine tool). Fixed-length character grams are
    sampled at CONTENT-DEFINED anchors — every word start (position after
    a space) plus the document start. Anchoring on content rather than on
    fixed offsets makes the sample alignment-free: the word boundaries
    inside a shared verbatim run are identical in both documents, so any
    cross-document run of >= gram_chars + max_word_len + 1 chars is
    GUARANTEED to contribute the same gram to both documents (a
    fixed-stride sample would hit the run at different phases and miss).

    Per document: ``n_grams`` (distinct anchored grams), ``n_shared``
    (grams that also occur in ANOTHER document), and ``dup_frac =
    n_shared/n_grams`` (one integer division — bit-exact cross-engine).
    A curation pass drops or trims documents above a dup_frac threshold.

    Scale: grams are md5-digested BEFORE the explode, so every exchange
    carries (id, 32-hex digest), never text; digest work is ~gram_chars /
    avg_word_len x corpus bytes, a pure map. One shuffle keys the gram
    census, one keys the per-doc re-aggregation; the census join is an
    ordinary shuffle-hash join on the digest (the census is corpus-sized
    in the worst case, so it is deliberately NOT broadcast). Documents
    shorter than gram_chars contribute their whole text as one gram.
    """
    if gram_chars <= 0:
        raise ValueError(f"gram_chars must be positive, got {gram_chars}")
    t = F.col(text_col)
    starts = F.filter(
        F.sequence(F.lit(1), F.greatest(F.length(t) - (gram_chars - 1), F.lit(1))),
        # s == 1 ORs true before the substr branch matters, so the
        # engine-specific value of substr(text, 0, 1) is never load-bearing
        lambda s: (s == 1) | (F.substr(t, s - 1, F.lit(1)) == " "),
    )
    gram_arr = F.array_distinct(
        F.transform(
            starts,
            lambda s: F.md5(F.substr(t, s, F.lit(gram_chars)).cast("binary")),
        )
    )
    # the gram+md5 map is the operator's dominant cost and feeds three
    # branches (census build, census-join probe, final n_grams join) —
    # cut it so the corpus is digested ONCE, not once per branch (same
    # doctrine as the shared shingle_index above)
    from candia_spark.operators.materialize import cut

    per_doc, _ = cut(
        df.select(F.col(id_col), gram_arr.alias("grams")).withColumn(
            "n_grams", F.size("grams").cast("bigint")
        )
    )
    exploded = per_doc.select(F.col(id_col), F.explode("grams").alias("g"))
    census = exploded.groupBy("g").agg(F.count(F.lit(1)).alias("cnt"))
    shared = (
        exploded.join(census, "g")
        .filter(F.col("cnt") >= 2)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    return (
        per_doc.select(id_col, "n_grams")
        .join(shared, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_grams"),
            F.coalesce(F.col("n_shared"), F.lit(0).cast("bigint")).alias("n_shared"),
            (
                F.coalesce(F.col("n_shared"), F.lit(0)).cast("double")
                / F.col("n_grams")
            ).alias("dup_frac"),
        )
    )


def _block_base_and_occurrences(
    df: DataFrame, block_words: int, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """Shared front half of the block-dedup family: the materialized
    tokenized base (id, __toks, __n_tok, __nb) and the per-full-block
    occurrence table (id, pos, block)."""
    if block_words <= 0:
        raise ValueError(f"block_words must be positive, got {block_words}")
    toks = F.split(F.col(text_col), " ")
    n_tok = F.size(toks)
    n_blocks = F.floor(n_tok / block_words).cast("int")
    # the tokenized base feeds TWO branches (the occurrence explode and
    # the final reassembly join) — cut it once so the corpus splits one
    # time, not once per branch (the q55 per_doc doctrine)
    from candia_spark.operators.materialize import cut

    base, _ = cut(
        df.select(
            F.col(id_col),
            toks.alias("__toks"),
            n_tok.alias("__n_tok"),
            n_blocks.alias("__nb"),
        )
    )
    # one row per full block; docs shorter than one block contribute none
    # (sequence(0, -1) would DESCEND, hence the explicit empty guard)
    occurrences = base.select(
        F.col(id_col),
        F.posexplode(
            F.when(
                F.col("__nb") > 0,
                F.transform(
                    F.sequence(F.lit(0), F.col("__nb") - 1),
                    lambda i: F.array_join(
                        F.slice(F.col("__toks"), i * block_words + 1, block_words),
                        " ",
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "block"),
    )
    return base, occurrences


def block_census(
    df: DataFrame,
    block_words: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The persistable corpus-side artifact of rolling block dedup:
    (block, first_id, first_pos) — every distinct block with its global
    first occurrence. Write to parquet once per corpus life (bucket by
    block at real scale) and hand it to :func:`remove_duplicate_blocks`
    as ``corpus_firsts``: each ingestion batch then rewrites against the
    STORED census without ever re-splitting the corpus."""
    _, occurrences = _block_base_and_occurrences(
        df, block_words, text_col, id_col
    )
    first = F.min(
        F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))
    ).alias("__first")
    return (
        occurrences.groupBy("block")
        .agg(first)
        .select(
            "block",
            F.col("__first")["d"].alias("first_id"),
            F.col("__first")["p"].alias("first_pos"),
        )
    )


def compact_block_census(
    corpus_firsts: DataFrame,
    batch_df: DataFrame,
    block_words: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fold a processed ingestion batch into the persisted
    :func:`block_census` — the periodic compaction job of rolling block
    dedup. Returns the DELTA census rows to APPEND to the stored table:
    the batch's census-NOVEL blocks with their batch-internal first
    occurrence. Censused blocks produce no delta row — the corpus owns
    them (the rolling ownership rule :func:`remove_duplicate_blocks`
    documents), so their stored (first_id, first_pos) never changes and
    compaction never rewrites a stored row.

    ``stored census + delta == block_census(corpus ∪ batch)`` whenever
    every corpus id orders before every batch id (pinned in tests);
    under interleaved ids the compacted census encodes the ROLLING
    semantics q78's oracle certifies — ownership by ingestion order —
    which is the semantics a pipeline that cannot rewrite shipped
    documents actually wants. Replay-idempotence belongs to the sink:
    key each append by batch id with dynamic partition overwrite.

    Per-batch cost: one batch split (shared shape with the rewrite pass)
    plus a LEFT ANTI join against a block-column scan of the stored
    census — the corpus text is never re-split; at real scale bucket
    the stored census by block (digest) so the anti join co-locates."""
    batch_census = block_census(batch_df, block_words, text_col, id_col)
    return batch_census.join(
        corpus_firsts.select("block"), "block", "left_anti"
    )


def remove_duplicate_blocks(
    df: DataFrame,
    block_words: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus_firsts: DataFrame | None = None,
) -> DataFrame:
    """Corpus-level duplicate-BLOCK removal — the C4-style rewrite step
    that deletes repeated boilerplate spans from every document, keeping
    exactly one global first occurrence of each span. Documents are cut
    into consecutive non-overlapping ``block_words``-token blocks (the
    trailing partial block is always kept — it identifies no reusable
    span); a block is kept iff its (doc, position) is the GLOBAL first
    occurrence of that block text, ordered by (``id_col``, position).
    Unlike :func:`substring_duplication` (a per-doc duplication PROFILE),
    this returns the rewritten corpus: (id, n_blocks, n_kept,
    clean_text) with clean_text = kept blocks + trailing remainder
    re-joined in original order.

    Scale design: first-occurrence resolution is a ``groupBy(block)``
    with ``min(struct(doc, pos))`` — an aggregate, NOT a window, so hot
    blocks (the boilerplate this operator exists for) collapse map-side
    via partial aggregation instead of funnelling every occurrence
    through one window task. The join back is keyed by block text with
    exactly one row per block on the build side, so residual skew sits
    on the probe side where AQE skew-join splits it. Reassembly is one
    (doc) aggregation over kept blocks. Three shuffles total, all keyed,
    none corpus-wide-windowed; at petabyte scale key the exchanges by a
    block digest instead of the text to narrow the shuffle rows (the
    digest is an internal key here, so engine-native hashing would do —
    kept as text in this reference implementation for cross-engine
    verifiability).

    ROLLING mode: pass ``corpus_firsts`` (a persisted
    :func:`block_census` of the already-ingested corpus) and ``df``
    becomes the incoming BATCH: any batch block present in the census is
    removed outright (the corpus owns it), and among census-novel blocks
    the batch-internal first occurrence wins. THE CONTRACT IS "the
    corpus owns every censused block" — ingestion order decides
    ownership, not id order. That coincides with a full run over
    corpus+batch only under the precondition that every corpus id
    orders before every batch id (the equivalence pinned in
    tests/test_retrieval.py states exactly this); with interleaved ids
    a batch doc whose id sorts before a corpus doc would KEEP a shared
    block in the full run but lose it here — by design, since a rolling
    pipeline cannot rewrite already-shipped corpus documents (q78's
    oracle encodes these rolling semantics, not full-run semantics).
    Per-batch cost tracks the batch plus one columnar scan of the
    stored census into a LEFT ANTI join.
    """
    base, occurrences = _block_base_and_occurrences(
        df, block_words, text_col, id_col
    )
    if corpus_firsts is not None:
        # the corpus owns every censused block: batch occurrences of
        # those blocks drop in one anti join, and first-occurrence
        # resolution then runs over the surviving (census-novel) blocks
        occurrences = occurrences.join(
            corpus_firsts.select("block"), "block", "left_anti"
        )
    firsts = occurrences.groupBy("block").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias(
            "__first"
        )
    )
    kept = (
        occurrences.join(firsts, "block")
        .filter(
            (F.col("__first")["d"] == F.col(id_col))
            & (F.col("__first")["p"] == F.col("pos"))
        )
        .select(id_col, "pos", "block")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("block")))
                ),
                lambda t: t["block"],
            ),
            " ",
        ).alias("__kept_text"),
    )
    remainder = F.array_join(
        F.slice(
            F.col("__toks"),
            F.col("__nb") * block_words + 1,
            F.col("__n_tok") - F.col("__nb") * block_words,
        ),
        " ",
    )
    return (
        base.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.col("__nb").cast("bigint").alias("n_blocks"),
            F.coalesce(F.col("n_kept"), F.lit(0).cast("bigint")).alias("n_kept"),
            F.concat_ws(
                " ",
                F.coalesce(F.col("__kept_text"), F.lit("")),
                remainder,
            ).alias("__joined"),
        )
        .select(
            id_col,
            "n_blocks",
            "n_kept",
            F.trim(F.col("__joined")).alias("clean_text"),
        )
    )


def remove_self_repeated_blocks(
    df: DataFrame,
    block_words: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    engine: str = "auto",
) -> DataFrame:
    """INTRA-document repeated-block removal — the fix for what q44's
    Gopher repetition metrics only measure: a document that repeats its
    own spans (looped templates, scraped pagination, generation
    degeneration) keeps one first occurrence of every block and drops
    the repeats. :func:`remove_duplicate_blocks` dedupes spans ACROSS
    the corpus; this dedupes a document against ITSELF.

    Output: (id, n_blocks, n_kept, clean_text) — the q68 contract, with
    clean_text = first occurrences + trailing partial block in original
    order.

    Scale shape — the whole operator is a PURE MAP, zero exchanges,
    under EITHER engine. Nothing shuffles, nothing aggregates across
    rows; at 100 TB this is an embarrassingly parallel rewrite scan,
    which is exactly why the intra-doc scope deserves its own operator
    instead of a scope flag on the shuffle-based corpus path.

    ``engine`` picks the per-row implementation (verdict r9 wrong #3):

    - ``"sql"`` — the zero-Python ``F.aggregate`` fold, appending a
      block iff ``F.exists`` finds no copy in the kept accumulator.
      Whole-stage-codegen friendly and UDF-free, but inherently
      O(blocks²) per document: Catalyst folds copy the immutable
      accumulator on every append, and a map-typed accumulator does
      NOT fix that — runtime MapData is array-backed, so
      ``map_contains_key`` is itself a linear scan and ``map_concat``
      an O(n) copy (measured: 46.9 s map-fold vs 43.2 s exists-fold on
      32 x 50k-token docs; SCALING_r10 selfrep_long leg). Right for
      normal web documents (a few hundred blocks).
    - ``"arrow"`` — an Arrow-batched pandas UDF holding a Python
      first-occurrence set per document: genuinely O(blocks), the only
      linear device available, because a hash set needs mutable state
      expressions can't express. Right for pathological long documents
      (a 1M-token doc is ~62k blocks → ~2e9 string compares under the
      fold, milliseconds under the set).
    - ``"auto"`` (default) — a filter-split union: documents with fewer
      than 256 blocks (where the fold's quadratic term is still
      trivial — sub-ms/doc) take the SQL fold, longer documents take
      the Arrow path. Both legs agree
      exactly (property-fuzzed), so the split is invisible in results.
      (A union, not a per-row ``when``: Catalyst extracts Python UDFs
      into an ArrowEvalPython node that runs for EVERY row, so a
      conditional expression would pay the Python round-trip even for
      the short docs. The union's two branches each scan the source
      with the length predicate pushed down; still zero exchanges.)
    """
    if block_words <= 0:
        raise ValueError(f"block_words must be positive, got {block_words}")
    if engine not in ("auto", "sql", "arrow"):
        raise ValueError(
            f"engine must be 'auto', 'sql' or 'arrow', got {engine!r}"
        )
    # NULL text behaves as '' in ALL engines (the Arrow leg already
    # coalesced; without this the SQL fold emits NULL counters and —
    # worse — the auto split's size(split(NULL)) routing predicate is
    # NULL on both sides, silently dropping the row from BOTH legs)
    toks_expr = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    # the SQL leg reads tokens from a BOUND column (r16 optimization
    # round, guide §1.2): inlined, the split sits inside the per-block
    # slice lambda and re-splits the document for every block
    toks = F.col("__toks")
    n_tok = F.size(toks)
    nb = F.floor(n_tok / block_words).cast("int")

    def _sql_result() -> Column:
        blocks = F.when(
            nb > 0,
            F.transform(
                F.sequence(F.lit(0), nb - 1),
                lambda i: F.array_join(
                    F.slice(toks, i * block_words + 1, block_words), " "
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        kept = F.aggregate(
            blocks,
            F.array().cast("array<string>"),
            lambda acc, b: F.when(
                F.exists(acc, lambda x: x == b), acc
            ).otherwise(F.concat(acc, F.array(b))),
        )
        remainder = F.array_join(
            F.slice(toks, nb * block_words + 1, n_tok - nb * block_words),
            " ",
        )
        return F.struct(
            nb.cast("bigint").alias("n_blocks"),
            F.size(kept).cast("bigint").alias("n_kept"),
            F.trim(
                F.concat_ws(" ", F.array_join(kept, " "), remainder)
            ).alias("clean_text"),
        )

    def _arrow_result() -> Column:
        import pandas as pd  # noqa: F401 (signature types)

        @F.pandas_udf(
            "struct<n_blocks:bigint,n_kept:bigint,clean_text:string>"
        )
        def rewrite(texts):
            out_nb, out_nk, out_ct = [], [], []
            for text in texts:
                t = ("" if text is None else text).split(" ")
                n = len(t) // block_words
                seen: set = set()
                kept_blocks = []
                for i in range(n):
                    b = " ".join(t[i * block_words : (i + 1) * block_words])
                    if b not in seen:
                        seen.add(b)
                        kept_blocks.append(b)
                rem = " ".join(t[n * block_words :])
                clean = (" ".join(kept_blocks) + " " + rem).strip()
                out_nb.append(n)
                out_nk.append(len(kept_blocks))
                out_ct.append(clean)
            import pandas as pd

            return pd.DataFrame(
                {"n_blocks": out_nb, "n_kept": out_nk, "clean_text": out_ct}
            )

        return rewrite(F.col(text_col))

    def _project(res: Column, src: DataFrame, sql_leg: bool) -> DataFrame:
        # two-step select: the SQL leg binds __toks so the block lambda
        # reads a materialized array, and BOTH legs bind the result
        # struct before field extraction — three naked res[...] columns
        # would evaluate the whole dedup fold three times per row
        # (HOF folds are CodegenFallback: no subexpression elimination)
        if sql_leg:
            src = src.select(F.col(id_col), toks_expr.alias("__toks"))
        return src.select(F.col(id_col), res.alias("__r")).select(
            F.col(id_col),
            F.col("__r")["n_blocks"].alias("n_blocks"),
            F.col("__r")["n_kept"].alias("n_kept"),
            F.col("__r")["clean_text"].alias("clean_text"),
        )

    if engine == "sql":
        return _project(_sql_result(), df, True)
    if engine == "arrow":
        return _project(_arrow_result(), df, False)
    # auto: filter-split union — the fold's quadratic term is trivial
    # below ~256 blocks; beyond that the Arrow set wins by orders
    cut = 256 * block_words
    n_tok_src = F.size(toks_expr)
    return _project(_sql_result(), df.filter(n_tok_src < cut), True).unionAll(
        _project(_arrow_result(), df.filter(n_tok_src >= cut), False)
    )


def ngram_containment_pairs(
    df: DataFrame,
    n: int = 2,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    candidates: DataFrame | None = None,
    index: DataFrame | None = None,
    max_shingle_df: int | None = None,
    max_shingle_frac: float | None = None,
) -> DataFrame:
    """Near-CONTAINMENT pairs over word n-gram shingle sets: the overlap
    coefficient |A∩B| / min(|A|, |B|) >= ``threshold``, id_a < id_b —
    the asymmetric-duplication detector Jaccard structurally misses. A
    short document embedded verbatim in a much longer one (a quoted
    article, a boilerplate header, a dataset README pasted into a bigger
    file) has overlap ~1.0 but Jaccard ~|A|/|B|, far below any sane
    near-dup threshold; corpus dedup that only thresholds Jaccard keeps
    both copies. Output: (id_a, id_b, n_common, size_a, size_b,
    jaccard, containment) — the jaccard the pair WOULD have scored rides
    along so the miss is auditable.

    Composition: the exact pair machinery is :func:`ngram_jaccard_pairs`
    run unthresholded (its plain inverted-index join already produces
    every co-shingled pair with n_common/sizes; only the final metric
    differs), so all of that operator's scale contracts — shared
    ``index``, hot-shingle caps, the AQE-expansion parallelism pin, the
    candidates-mode array-intersect verify — apply unchanged. The
    AllPairs PREFIX filter is deliberately NOT offered here: its pruning
    bound is derived from the Jaccard threshold and does not hold for
    containment (a pair can have overlap 1.0 at arbitrarily small
    Jaccard), so standalone mode always runs the plain join — enforced
    structurally by the t = 0 call: the auto router never picks prefix
    at threshold <= 0 (the prefix is the whole set there), while the
    auto census still feeds the broadcast-regime probe-partitioning
    gate, so standalone containment gets the collapsed pair partial agg
    too. At corpus scale, generate candidates with
    :func:`minhash_lsh_pairs` against a LOW estimated-Jaccard floor (or
    band the shorter side only) and pass them as ``candidates``.
    """
    pairs = ngram_jaccard_pairs(
        df,
        n=n,
        threshold=0.0,
        text_col=text_col,
        id_col=id_col,
        candidates=candidates,
        index=index,
        max_shingle_df=max_shingle_df,
        max_shingle_frac=max_shingle_frac,
    )
    return pairs.withColumn(
        "containment",
        (
            F.col("n_common") / F.least(F.col("size_a"), F.col("size_b"))
        ).cast("double"),
    ).filter(F.col("containment") >= threshold)


def containment_candidate_pairs(
    df: DataFrame,
    num_hashes: int = 64,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    index: DataFrame | None = None,
    max_shingle_df: int | None = None,
    max_shingle_frac: float | None = None,
    min_hits: int = 1,
) -> DataFrame:
    """Candidate pairs for CONTAINMENT verification — the asymmetric
    sketch Jaccard-banding cannot provide. Symmetric banded MinHash
    (:func:`minhash_lsh_pairs`) collides with probability driven by
    JACCARD, and a contained pair's Jaccard is ~|A|/|B| — arbitrarily
    small — so no (bands, rows) setting gives reliable recall for the
    pairs :func:`ngram_containment_pairs` exists to find. This operator
    bands the SHORTER SIDE ONLY: each document contributes its
    ``num_hashes`` minhash WITNESS shingles (the argmin shingle per
    seeded permutation — at most k rows per doc, k << set size), and a
    witness probes the full inverted index for every OTHER document
    containing that exact shingle. For a pair with containment
    ``t = |A∩B| / |A|`` (A the smaller side), each of A's witnesses
    lands in A∩B — and therefore in B's index rows — with probability
    exactly t, so the pair is missed with probability ``(1-t)^k``:
    ~1e-64 at t=0.9, k=64. That bound is what lets q81 run this path
    against an EXACT oracle (the q27 stance: recall is part of the
    gate), and it holds for whichever side of the pair is smaller,
    since every document plays the witness role.

    ``min_hits`` thresholds the SEED-LEVEL witness-hit count of the
    pair's best single DIRECTION (verdict r8 wrong #1 — the
    constant-factor/shared-vocabulary fix): each of the k seeds
    independently picks a uniformly random shingle of the probing
    document (the argmin under that seed's permutation), so a seed of
    doc A hits doc B with probability EXACTLY the A-side containment
    |A∩B|/|A| — the per-direction seed-hit count is Binomial(k, c)-
    distributed REGARDLESS of document size, and for a qualifying pair
    the SMALLER side's c is the overlap coefficient itself. Keeping
    pairs whose max-direction count >= m therefore misses a
    containment-``t`` pair only with probability ``P(Binom(k, t) < m)``
    — at k=64, t=0.9, m=24 that is ~2e-23 (Chernoff
    exp(-k·KL(m/k || t))), so the exact-oracle gate stance survives —
    while dropping the low-evidence mass a shared-vocabulary corpus
    produces (every doc pair sharing ONE common bigram is a candidate
    at min_hits=1; measured at sf0.1: 11.7M candidate pairs -> 67k at
    m=24). The filter is the cheapest possible: the seed multiplicity
    of each DISTINCT witness shingle rides the probe join as a weight
    column (join mass identical to the unweighted form), and the
    direction split is a conditional sum in the same pair aggregate.
    Direction-MAX, not total: junk pairs accumulate weak hits from
    both directions, while the recall bound only ever needed the
    smaller side's Binomial. min_hits=1 (the default) preserves the
    any-hit semantics.

    Scale: the witness table is ≤ k rows/doc regardless of document
    length, and per witness the probe fans out to that shingle's
    document frequency — total candidate mass ≤ k · Σ df(witness), so
    the hot-shingle caps (``max_shingle_df`` / ``max_shingle_frac``,
    applied to the probed index) bound it at k · N · cap. When capping,
    cap the VERIFY index identically (and the oracle, q73's HAVING
    device), or a witness may probe for a shingle the capped index no
    longer holds. Output: (id_a, id_b) distinct, id_a < id_b. Pass
    ``index`` to share one corpus scan with verification; a supplied
    index is counted once for the probe routing gate."""
    if num_hashes <= 0:
        raise ValueError(f"num_hashes must be positive, got {num_hashes}")
    if min_hits <= 0:
        raise ValueError(f"min_hits must be positive, got {min_hits}")
    if index is None:
        index, index_rows = _counted_shingle_index(
            df, n, text_col, id_col, max_shingle_df, max_shingle_frac
        )
    else:
        index_rows = index.count()
    return _containment_candidates(
        index, index_rows, num_hashes, id_col, min_hits
    )


def _containment_candidates(
    index: DataFrame,
    index_rows: int,
    num_hashes: int,
    id_col: str,
    min_hits: int,
) -> DataFrame:
    """The witness probe of :func:`containment_candidate_pairs` over a
    built inverted index whose row count the caller already holds (q81
    takes it from :func:`_counted_shingle_index`, sharing the index with
    verification at no extra job)."""
    witnesses = index.groupBy(id_col).agg(
        *[
            F.min_by("shingle", F.xxhash64(F.col("shingle"), F.lit(i))).alias(
                f"__w{i}"
            )
            for i in range(num_hashes)
        ]
    )
    # AQE-expansion parallelism pin (the winnow_fingerprint_pairs
    # device): the probe and index inputs are megabytes, so AQE
    # coalesces the join's shuffle to a handful of partitions — and the
    # join then EXPANDS to Σ df(witness) rows (11.7M at sf0.1) that
    # would all flow through those few partitions. Repartitioning the
    # probe by the join key pins post-join parallelism (measured on the
    # q81 fixture: the witness->candidates stage drops 15.3 -> 4.1 s).
    # Probe-side partition KEY is regime-dependent — the r16 gate the
    # exact-Jaccard and winnow engines already carry (see
    # _PAIR_PROBE_DOC_PARTITION_ROWS): probing by WITNESS DOC collapses
    # the pair partial aggregation inside the one task holding all of a
    # doc's hits, so the exchange before the pair agg carries ~2 rows
    # per distinct pair instead of per-witness hit mass (52.4M hit rows
    # at sf0.1; candidate stage measured 2.92 -> 1.89 s). Valid only in
    # the broadcast regime — under a shingle-keyed sort-merge join a
    # doc-keyed probe is a pure wasted exchange — so the index is
    # force-broadcast under the gate (its checkpointed-row size estimate
    # would otherwise leave the strategy to the session). The gate
    # statistic is the index row count the caller passes in (observed on
    # the index's own cut when the index was built here). At corpus
    # scale the count exceeds the gate and the shingle pin runs
    # unchanged.
    par = _probe_parallelism(index)
    probe_key = "shingle"
    if index_rows <= _PAIR_PROBE_DOC_PARTITION_ROWS:
        probe_key = "__wid"
    warr = F.array(*[F.col(f"__w{i}") for i in range(num_hashes)])
    if min_hits == 1:
        probe = witnesses.select(
            F.col(id_col).alias("__wid"),
            F.explode(F.array_distinct(warr)).alias("shingle"),
        ).repartition(par, probe_key)
        hits = probe.join(
            F.broadcast(index) if probe_key == "__wid" else index, "shingle"
        ).filter(
            F.col("__wid") != F.col(id_col)
        )
        return hits.select(
            F.least("__wid", id_col).alias("id_a"),
            F.greatest("__wid", id_col).alias("id_b"),
        ).distinct()

    # weighted probe: one row per DISTINCT witness shingle (same join
    # mass as the unweighted form), carrying how many of the k seeds
    # picked it — summed over matched witnesses per direction this is
    # the exact seed-level hit count, Binomial(k, containment)

    def _seed_count(d):
        return F.size(F.filter(warr, lambda x: x == d))

    probe = witnesses.select(
        F.col(id_col).alias("__wid"),
        F.explode(
            F.transform(
                F.array_distinct(warr),
                lambda d: F.struct(
                    d.alias("shingle"),
                    _seed_count(d).cast("int").alias("__seeds"),
                ),
            )
        ).alias("__p"),
    ).select(
        "__wid",
        F.col("__p.shingle").alias("shingle"),
        F.col("__p.__seeds").alias("__seeds"),
    ).repartition(par, probe_key)
    hits = probe.join(
        F.broadcast(index) if probe_key == "__wid" else index, "shingle"
    ).filter(
        F.col("__wid") != F.col(id_col)
    )
    fwd = F.col("__wid") < F.col(id_col)  # probing doc is id_a
    return (
        hits.groupBy(
            F.least("__wid", id_col).alias("id_a"),
            F.greatest("__wid", id_col).alias("id_b"),
        )
        .agg(
            F.sum(F.when(fwd, F.col("__seeds")).otherwise(0)).alias("__ab"),
            F.sum(F.when(~fwd, F.col("__seeds")).otherwise(0)).alias("__ba"),
        )
        .filter(F.greatest("__ab", "__ba") >= min_hits)
        .select("id_a", "id_b")
    )


def winnow_fingerprints(
    df: DataFrame,
    n: int = 2,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): per document, the DISTINCT set of
    per-window minimum n-gram digests, one row (id, fp) each. Every
    ``window`` consecutive n-gram hashes contribute their minimum, which
    guarantees any shared run of ``window + n - 1`` tokens between two
    documents shares at least one fingerprint — position-local matching
    that survives surrounding edits, where MinHash (a global set sketch)
    dilutes local overlap into the whole-document similarity.

    The digest is md5 (cross-engine exact, lexicographic min — gated
    outputs never ride on engine-private hash functions); a production
    deployment on one engine would swap in xxhash64 for narrower rows.

    Scale: a pure map (tokens → gram digests → sliding window minima →
    array_distinct) followed by one explode — no shuffle at all. The
    emitted index is a ~2/(window+1)-density subsample of the full
    shingle index, which is the whole point: downstream pair generation
    runs on an index ``(window+1)/2``× smaller than
    :func:`shingle_index` at equal corpus size.

    Documents with fewer than ``n`` tokens emit nothing; documents with
    fewer grams than ``window`` emit the minimum of what exists (one
    degenerate window)."""
    if n <= 0 or window <= 0:
        raise ValueError(f"n and window must be positive, got n={n} window={window}")
    toks = tokens_col(text_col)
    # Project the gram-digest array into a BOUND COLUMN before the
    # window pass (r16 optimization round, guide §1.2 per-task work):
    # inlined, the md5-transform subtree sits inside the per-window
    # lambda and is RE-EVALUATED for every window position — ~n_grams
    # md5 calls per window instead of per document (measured 2.11 ->
    # 0.48 s on the isolated sf0.1 fingerprint pass, identical 101,144
    # output rows). As an attribute, the
    # array materializes once per row and every slice/size reads it.
    # (CollapseProject will not inline it back: the reference count is
    # > 1 and the expression is non-cheap — the same device
    # word_ngram_hashes uses for the token chain.)
    tdf = df.select(F.col(id_col), toks.alias("__t")).select(
        F.col(id_col),
        F.transform(
            _shingle_array(F.col("__t"), n), lambda s: F.md5(s.cast("binary"))
        ).alias("__h"),
    )
    h = F.col("__h")
    n_h = F.size(h)
    mins = F.transform(
        F.sequence(F.lit(1), F.greatest(n_h - (window - 1), F.lit(1))),
        lambda j: F.array_min(F.slice(h, j, window)),
    )
    fps = F.when(n_h > 0, F.array_distinct(mins)).otherwise(
        F.array().cast("array<string>")
    )
    return tdf.select(F.col(id_col), F.explode(fps).alias("fp"))


def winnow_fingerprint_pairs(
    df: DataFrame,
    n: int = 2,
    window: int = 4,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    fingerprints: DataFrame | None = None,
    max_fp_df: int | None = None,
    max_fp_frac: float | None = None,
) -> DataFrame:
    """Document pairs sharing winnowed fingerprints: (id_a, id_b,
    n_shared, fp_a, fp_b, overlap) with overlap = n_shared /
    min(fp_a, fp_b) >= ``threshold``, id_a < id_b — MOSS-style local
    plagiarism/splice detection. A document spliced together from parts
    of others scores high overlap against EACH parent (every shared
    ``window + n - 1``-token run guarantees a shared fingerprint), while
    whole-set sketches see only diluted similarity.

    Same inverted-index pair shape as :func:`ngram_jaccard_pairs`' plain
    mode — groupBy partial-agg pair counts, sizes broadcast-joined after
    the aggregation, AQE-expansion parallelism pin — but running on the
    winnowed index, a ~(window+1)/2× subsample of the full shingle
    index, so the join mass shrinks quadratically in the density while
    the local-match guarantee holds. Pass ``fingerprints`` (a persisted
    :func:`winnow_fingerprints`) to reuse an existing index.

    ``max_fp_df`` / ``max_fp_frac`` cap HOT fingerprints (verdict r7
    #2), exactly as ``max_shingle_df``/``max_shingle_frac`` cap the
    jaccard family's shingle index: real corpora share boilerplate, and
    one fingerprint hitting 10^4 documents contributes 10^8 pair rows
    to the inverted-index join — the disjoint-vocabulary regime where
    the uncapped scan measures linear says nothing about that. Capped
    fingerprints are DROPPED (sizes are computed after capping, so
    ``overlap`` stays internally consistent): a hot fingerprint is one
    boilerplate window shared corpus-wide, which carries no splice
    evidence — connecting documents through it is precisely the
    false-positive mass the cap exists to remove, so no star-pair
    device applies here (unlike :func:`minhash_lsh_pairs`' hot BUCKETS,
    which hold genuine whole-document duplicate clusters).

    The two cap forms bound different things: ``max_fp_frac`` is the
    SEMANTIC knob (drop corpus-wide boilerplate; scale-invariant), but
    df <= frac*N still admits Θ(N²) join mass on a shared-vocabulary
    corpus; ``max_fp_df`` is the MASS bound — Σ_{df<=cap} df² <=
    cap * Σ df = cap * index_rows, linear in the corpus by
    construction. At corpus scale pass both: frac for meaning, an
    absolute cap for the worst case. The capped-vs-uncapped skew
    behavior is measured on the Zipf shared-vocabulary corpus in
    SCALING_r08.json (winnow_zipf)."""
    # the fingerprint index feeds THREE consumers (sizes, both join
    # sides) — cut it once so the md5 + window-minima map runs one time
    # (measured 6.4 -> ~2.5 s at sf0.1 on the q72 fixture)
    from candia_spark.operators.materialize import cut

    fp, stats = cut(
        fingerprints
        if fingerprints is not None
        else winnow_fingerprints(df, n, window, text_col, id_col),
        F.count(F.lit(1)).alias("n"),
    )
    # fp_rows (the capped index's row count) rides the index's own cuts,
    # so every call gets it — and with it the broadcast-regime probe
    # gate below — with zero extra actions
    fp, n_hot, fp_rows = _cap_hot_keys(
        fp, stats["n"], "fp", id_col, max_fp_df, max_fp_frac
    )
    telemetry.record("winnow", fp_rows=fp_rows, hot_fps=n_hot)
    sizes = fp.groupBy(id_col).agg(F.count(F.lit(1)).alias("fp_n"))
    par = _probe_parallelism(fp)
    # Probe-side partition key mirrors ngram_jaccard_pairs' broadcast-
    # regime gate (see _PAIR_PROBE_DOC_PARTITION_ROWS): a doc-keyed
    # probe completes every output pair inside one task, so the pair
    # partial agg collapses to one row per pair before the exchange
    # (measured 1.85 -> 0.97 s on the isolated sf0.1 q72 pair pass).
    # The build side is force-broadcast under the same gate — the
    # md5-string fingerprint index's ExistingRDD estimate routes the
    # planner to sort-merge even at 100k rows, and a doc-keyed probe
    # under a sort-merge join would be a pure wasted exchange. The
    # constant is lower than the jaccard gate's:
    # fingerprint rows carry a 32-char digest, ~3x the bytes of a
    # (bigint, bigint) shingle row.
    probe_key = "fp"
    if fp_rows <= _WINNOW_PROBE_DOC_PARTITION_ROWS:
        probe_key = id_col
    a = fp.repartition(par, probe_key).select(F.col(id_col).alias("id_a"), "fp")
    b = fp.select(F.col(id_col).alias("id_b"), "fp")
    if probe_key == id_col:
        b = F.broadcast(b)
    pair_counts = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    out = (
        pair_counts.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("fp_n").alias("fp_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("fp_n").alias("fp_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.col("fp_a").cast("bigint").alias("fp_a"),
            F.col("fp_b").cast("bigint").alias("fp_b"),
            (F.col("n_shared") / F.least("fp_a", "fp_b"))
            .cast("double")
            .alias("overlap"),
        )
    )
    return out.filter(F.col("overlap") >= threshold)


def gram_owner_census(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The persistable corpus-side artifact of rolling exact-substring
    dedup: (gram, owner_id) — every distinct k-token gram digest with
    its global first-owner doc. Write to parquet once per corpus life
    (bucket by gram at real scale) and hand it to
    :func:`exact_substring_dedup` as ``corpus_owners``: each ingestion
    batch then rewrites against the STORED census without ever
    re-tokenizing the corpus — the same rolling-ingestion contract as
    :func:`block_census`."""
    occ = _gram_occurrences(df, k, text_col, id_col)
    return occ.groupBy("__g").agg(F.min(id_col).alias("owner_id")).select(
        F.col("__g").alias("gram"), "owner_id"
    )


def _gram_occurrences(
    df: DataFrame, k: int, text_col: str, id_col: str
) -> DataFrame:
    """Every k-token gram occurrence as (id, __pos, __g md5) — the
    shared front half of the exact-substring family. Tokenization is
    the lossless raw single-space split; grams are built with the
    zip_with shingle device and digested before the explode."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    text = F.coalesce(F.col(text_col), F.lit(""))
    base = df.select(F.col(id_col), F.split(text, " ").alias("__toks"))
    return base.select(
        F.col(id_col),
        F.posexplode(_gram_digest_array(F.col("__toks"), k)).alias(
            "__pos", "__g"
        ),
    )


def _gram_digest_array(t: Column, k: int) -> Column:
    """md5 digests of every k-token gram of a token-array column, sep
    ' ' (tokens come from a single-space split, so each gram IS the
    literal original substring). The zip_with build (measured ~3x over
    per-element slice) with no negative-sequence trap: m = 0 for docs
    shorter than k tokens."""
    m = F.greatest(F.size(t) - (k - 1), F.lit(0))
    acc = F.slice(t, 1, m)
    for j in range(1, k):
        acc = F.zip_with(
            acc, F.slice(t, j + 1, m), lambda x, y: F.concat(x, F.lit(" "), y)
        )
    return F.transform(acc, lambda s: F.md5(s.cast("binary")))


def exact_substring_dedup(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus_owners: DataFrame | None = None,
) -> DataFrame:
    """Exact-substring cross-document dedup REWRITE (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    ExactSubstr) — the removal stage :func:`substring_duplication` only
    PROFILES: every token whose neighborhood is verbatim-shared with an
    EARLIER document is deleted, keeping the global first occurrence of
    each duplicated span (verdict r11 next #1).

    Semantics, token-granular and total-order exact: documents split on
    single spaces (the lossless block-family tokenization — rejoining
    with ' ' reproduces the original bytes); every k-token gram at every
    offset is censused; the gram's OWNER is the smallest doc_id
    containing it; in any other document, all k tokens under the gram
    are covered and removed. A token survives iff NO cross-duplicated
    gram covers it, so partial overlaps, adjacent spans, and spans
    crossing block boundaries all resolve exactly — the failure modes
    of the block-aligned C4 rewrite (:func:`remove_duplicate_blocks`),
    which only removes whole aligned blocks. Matching below k tokens is
    noise by the paper's threshold argument; intra-document repeats stay
    (the owner keeps ALL its occurrences — self-repetition is
    :func:`remove_self_repeated_blocks`' job). NULL text behaves as ''
    (r11 doctrine).

    Output one row per input document: (id, n_tokens, n_kept,
    clean_text) — kept tokens rejoined with ' ', '' when everything was
    duplicated. Every step is integer/digest arithmetic, so a DuckDB
    oracle recomputes the rewrite value-exactly and an md5 gates it
    (q100).

    ``corpus_owners`` (a persisted :func:`gram_owner_census`) switches
    to ROLLING-INGESTION mode: the batch is rewritten against the
    stored census without re-tokenizing the corpus — censused grams are
    corpus-owned outright (every batch occurrence covered; ownership by
    ingestion order, the q78 stance), batch-novel grams use the
    batch-internal first-owner rule. When every corpus id orders
    before every batch id, stored + rewrite ≡ the batch slice of a full
    from-scratch run (pinned in tests). Per-batch cost tracks the
    BATCH: one batch tokenize + one keyed probe of the stored census
    (bucket the store by gram at real scale so the probe co-locates).

    Scale shape — deliberately NOT the pair path: anchoring candidate
    doc PAIRS (winnow/MinHash) and verifying per pair goes quadratic in
    exactly the corpora this operator targets (a span shared by m
    documents is m²/2 pairs but only m census rows here). This plan is
    linear end-to-end: one materialized corpus tokenize feeding both the
    gram explode and the rebuild spine; gram occurrences travel as
    (id, pos, 16-byte md5) — never text; the owner census is ONE keyed
    shuffle with map-side partial min; the census join expands nothing
    (each occurrence matches exactly one owner row); only DUPLICATED
    occurrences explode their k covered positions (k·dup_mass, the
    quantity being removed); the anti join and ordered rebuild are keyed
    on (id, pos)/(id) — the boilerplate-rebuild device, bounded by
    single-document size. A corpus-wide hot gram (boilerplate shared by
    10⁶ docs) is 10⁶ census probe rows — skewed but linear, and AQE
    splits the skew; no cap is needed because nothing is quadratic in
    df. Suffix arrays find variable-length matches on one machine; at
    cluster scale the fixed-k gram census is the distributed-exact
    equivalent (any shared run of >= k tokens is caught — a run of
    length L >= k is covered by L-k+1 grams, all duplicated)."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    text = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.split(text, " ")
    from candia_spark.operators.materialize import cut

    base, _ = cut(
        df.select(
            F.col(id_col),
            toks.alias("__toks"),
            F.size(toks).cast("bigint").alias("__n_tok"),
        )
    )
    occ = base.select(
        F.col(id_col),
        F.posexplode(_gram_digest_array(F.col("__toks"), k)).alias(
            "__pos", "__g"
        ),
    )
    owners = occ.groupBy("__g").agg(F.min(id_col).alias("__owner"))
    if corpus_owners is None:
        dup = (
            occ.join(owners, "__g")
            .filter(F.col("__owner") < F.col(id_col))
            .select(F.col(id_col), "__pos")
        )
    else:
        # rolling mode: the stored census owns its grams outright (the
        # corpus shipped already — ownership by ingestion order, the
        # q78 stance), so every batch occurrence of a censused gram is
        # covered; grams novel to the batch fall back to the
        # batch-internal min-id owner rule
        stored = corpus_owners.select(
            F.col("gram").alias("__g"), F.lit(1).alias("__in_corpus")
        )
        dup = (
            occ.join(owners, "__g")
            .join(stored, "__g", "left")
            .filter(
                F.col("__in_corpus").isNotNull()
                | (F.col("__owner") < F.col(id_col))
            )
            .select(F.col(id_col), "__pos")
        )
    covered = dup.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("__pos"), F.col("__pos") + (k - 1))
        ).alias("__tpos"),
    )
    tok_spine = base.select(
        F.col(id_col), F.posexplode("__toks").alias("__tpos", "__tok")
    )
    # anti join tolerates duplicate right rows, so covered skips the
    # distinct() a join-based filter would force
    kept = tok_spine.join(covered, [id_col, "__tpos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__tpos", "__tok"))),
                lambda s: s["__tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return base.select(
        F.col(id_col), F.col("__n_tok").alias("n_tokens")
    ).join(rebuilt, id_col, "left").select(
        F.col(id_col),
        "n_tokens",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def decontaminate_fuzzy(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 16,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """NEAR-duplicate eval-set decontamination — the third leg of the
    decontamination family: :func:`decontaminate` flags exact shared
    n-grams (q45), :func:`contamination_spans` measures exact span
    coverage (q85), and this catches the contamination both miss — a
    lightly paraphrased or reformatted copy of a benchmark item whose
    n-gram JACCARD to the eval doc clears ``threshold`` without any
    long exact run (the GPT-3 appendix-C motivation; Dolma/FineWeb run
    exactly this fuzzy pass).

    Pure composition: candidates and exact verification are
    :func:`incremental_near_dups` with the BENCHMARK as the "corpus"
    side (bipartite banded minhash — corpus-vs-bench bands only, never
    corpus x corpus; LSH recall at the verify threshold is part of any
    oracle gate over this operator, the q27/q54 stance). The output is
    decontamination-shaped: one row per CONTAMINATED corpus document,
    (id, n_bench_matches, max_jaccard, worst_bench_id) — worst = the
    argmax-jaccard benchmark item, ties to the smallest bench id (the
    struct-max device), giving the audit trail a drop-list needs.

    Scale shape: inherits incremental_near_dups' — per-corpus-doc cost
    scales with collision mass against the (typically tiny, fully
    broadcastable) benchmark band table; the final per-doc agg is keyed
    on the corpus id."""
    pairs = incremental_near_dups(
        corpus,
        benchmark,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        n=n,
        text_col=text_col,
        id_col=id_col,
    )
    # argmax-jaccard, ties to the SMALLEST bench id — via min(struct)
    # with only the jaccard negated: jaccard is a double this operator
    # computed, so negation is always legal, while the id column is
    # caller-supplied and may be a string; an order-reversing negation
    # of the id (the old device) would fail analysis on non-numeric ids
    worst = F.min(
        F.struct(
            (-F.col("jaccard")).alias("nj"),
            F.col("corpus_id").alias("b"),
        )
    ).alias("__w")
    return (
        pairs.groupBy(F.col("new_id").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bench_matches"),
            worst,
        )
        .select(
            F.col(id_col),
            "n_bench_matches",
            (-F.col("__w")["nj"]).cast("double").alias("max_jaccard"),
            F.col("__w")["b"].alias("worst_bench_id"),
        )
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
    normalize: bool = False,
) -> DataFrame:
    """Corpus-wide PARAGRAPH-level exact dedup — the Dolma pipeline's
    paragraph stage (and C4's sentence-level ancestor): every paragraph
    that already occurred anywhere earlier in the corpus is removed,
    keeping only its FIRST occurrence (smallest (doc, position) in the
    corpus total order). Doc-level dedup misses pages that share 80%
    boilerplate-free content but differ in one line; q100's k-token
    gram rewrite removes overlapping SPANS; this is the stage between
    them — whole-paragraph granularity, which is what Dolma ships
    because paragraph boundaries make the rewrite safe (no mid-sentence
    cuts) and the key space small (one census row per distinct
    paragraph, not per k-gram).

    With ``normalize=True`` the census key is the q56
    ``normalize_text`` chain (casing/punctuation/whitespace-insensitive
    matching) while surviving paragraphs keep their original bytes —
    the strip_boilerplate_lines convention. Paragraphs that are empty
    (or normalize to empty) carry no dedup evidence and are ALWAYS
    kept (the null-text/no-evidence doctrine: pooling them would
    delete every blank separator in the corpus on the evidence of one
    other blank). A repeated paragraph WITHIN one document is also
    deduped (its second occurrence is not the first in corpus order).

    Output one row per input document: (id, n_paras, n_kept,
    clean_text) — kept paragraphs re-joined with ``sep`` in original
    order, '' when nothing survived; NULL text behaves as ''.

    Scale shape (the q98 shape, all linear): one paragraph-keyed census
    with MAP-SIDE partial aggregation (groupBy + min(struct) combines
    before the shuffle — deliberately NOT a window over the key, whose
    partitions would hold every occurrence of a viral paragraph with no
    partial reduction), one paragraph-keyed join of exploded paragraphs
    against that census (each left row matches exactly one census row
    — skew from a hot paragraph, never expansion; AQE splits it), and
    one per-doc ordered rebuild bounded by single-document size. Text
    shuffles twice (census key + join), both keyed — nothing all-pairs,
    nothing collected."""
    import re

    text = F.coalesce(F.col(text_col), F.lit(""))
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(text, re.escape(sep))).alias("__pos", "__para"),
    )
    if normalize:
        from candia_spark.functions.text import normalize_text

        paras = paras.withColumn("__key", normalize_text("__para"))
    else:
        paras = paras.withColumn("__key", F.col("__para"))
    census = (
        paras.filter(F.col("__key") != "")
        .groupBy("__key")
        .agg(
            F.min(
                F.struct(
                    F.col(id_col).alias("d"), F.col("__pos").alias("p")
                )
            ).alias("__owner")
        )
    )
    kept = (
        paras.join(
            census.withColumnRenamed("__key", "__ckey"),
            F.col("__key") == F.col("__ckey"),
            "left",
        )
        .filter(
            F.col("__owner").isNull()
            | (
                (F.col("__owner")["d"] == F.col(id_col))
                & (F.col("__owner")["p"] == F.col("__pos"))
            )
        )
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__para"))),
                lambda s: s["__para"],
            ),
            sep,
        ).alias("clean_text"),
    )
    spine = df.select(
        F.col(id_col),
        F.size(F.split(text, re.escape(sep))).cast("bigint").alias("n_paras"),
    )
    return spine.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        "n_paras",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )
