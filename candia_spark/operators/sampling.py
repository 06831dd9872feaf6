"""Deterministic sampling for training-data pipelines.

`df.sample()` draws from a per-partition RNG: resampling after a retry,
repartition, or code change yields a DIFFERENT subset, which poisons
incremental pipelines (a doc sampled yesterday must stay sampled today).
These operators key the decision on a content hash instead — the sample is
a pure function of the row, so it is reproducible across runs, engines,
partitionings, and failures, and the filter is an ordinary deterministic
predicate (pushdown-friendly, no shuffle, no RNG state).

The hash primitive is md5 over the key's string form, compared on its
leading hex chars — chosen over xxhash64 deliberately: both Spark and
DuckDB (the oracle engine) compute identical md5 hex, so the sample
membership itself is cross-engine checkable (same trick as the SimHash
oracle variant). 4 hex chars = 65536 buckets -> fraction granularity
1/65536, plenty for pipeline-scale sampling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_BUCKETS = 65536  # 16^4: membership decided on the first 4 md5 hex chars


def sample_threshold(fraction: float) -> str:
    """The 4-hex-char threshold string for ``fraction`` (shared with SQL
    oracles: ``substr(md5(..), 1, 4) < threshold``). Capped at 4 chars:
    a bucket count of exactly 16^4 would format as the 5-char '10000',
    which lexicographically compares BELOW almost every 4-char digest
    prefix and would silently invert the sample — fractions rounding to
    the full bucket range are handled in :func:`sample_flag` instead."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return format(min(round(fraction * _BUCKETS), _BUCKETS - 1), "04x")


def sample_flag(key_col: Column | str, fraction: float, salt: str = "") -> Column:
    """Boolean column: row is in the deterministic ``fraction`` sample.

    Membership = first 4 hex chars of md5(key || salt) below the fraction
    threshold. Changing ``salt`` draws an independent sample (the re-roll
    knob); the same (key, salt) is in or out forever.

    Fractions rounding to the full bucket range short-circuit to literal
    True ('ffff' itself must be in a 100% sample, which no `< threshold`
    string can express); fraction 0 likewise to literal False.
    """
    k = round(fraction * _BUCKETS)
    if k >= _BUCKETS:
        return F.lit(True)
    if k <= 0:
        return F.lit(False)
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    digest = F.md5(F.concat(key.cast("string"), F.lit(salt)).cast("binary"))
    return F.substring(digest, 1, 4) < F.lit(sample_threshold(fraction))


def stratified_sample_counts(
    df: DataFrame,
    strata: list[str],
    fraction: float,
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """Per-stratum audit of a deterministic sample: (strata..., n_total,
    n_sampled). One aggregation pass — the flag is an expression, so total
    and sampled counts come out of the same partial agg (no second scan,
    no join of two groupBys).
    """
    flag = sample_flag(key_col, fraction, salt)
    return df.groupBy(*strata).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum(flag.cast("bigint")).cast("bigint").alias("n_sampled"),
    )


def deterministic_shuffle(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Reproducible global shuffle + shard assignment for training
    writes: shard = md5-hash of the id modulo ``n_shards``, position
    within the shard = rank of the hash (ties -> id). The composite
    (shard, pos) is a pure function of (id, salt) — re-running after a
    retry, repartition, or cluster resize yields the SAME training
    order, which `df.orderBy(rand())` cannot promise. ``salt`` is the
    epoch/seed knob: a different salt draws an independent permutation.

    Output: (id, shard, pos) — all bigint.

    Scale: ONE keyed shuffle (the window partitioned by shard) and
    shard-local sorts; no global total order ever exists in the plan,
    so the classic single-partition orderBy trap never appears. Shards
    are the write/parallelism unit — size n_shards to the trainer's
    file layout, not the cluster."""
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    key = F.md5(
        F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string")).cast(
            "binary"
        )
    )
    # 15 hex chars = 60 bits, exact in a bigint on both engines (the
    # cross-engine device: conv(..,16,10) == DuckDB CAST('0x' || ..)).
    shard = (
        F.conv(F.substring(key, 1, 15), 16, 10).cast("bigint")
        % F.lit(int(n_shards))
    )
    keyed = df.select(
        F.col(id_col), key.alias("__key"), shard.cast("bigint").alias("shard")
    )
    w = Window.partitionBy("shard").orderBy(
        F.col("__key").asc(), F.col(id_col).asc()
    )
    return keyed.select(
        F.col(id_col),
        "shard",
        (F.row_number().over(w) - 1).cast("bigint").alias("pos"),
    )
