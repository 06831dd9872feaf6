"""Numeric column helpers with oracle-exact semantics.

Floating-point sums are order-dependent, and Spark's partition-parallel
aggregation visits rows in a different order than any single-node oracle.
The reference side-steps this by string-formatting floats and comparing with
``np.isclose`` (scripts/util/msproc.py:730-743, id_models_concat.py:85-86);
SURVEY §7.3(2) calls that the key hazard. The rebuild's convention instead:

- **Sums of doubles go through decimal**: ``sum(cast(x as decimal(38,6)))``
  is exact and associative, therefore identical bit-for-bit between Spark and
  DuckDB regardless of row order. The final value is rounded and cast back to
  double for a stable, engine-neutral output type.
- **Derived statistics (mean, variance, CV) are scalar double math over
  those exact decimal sums**, so both engines evaluate the same IEEE
  expression on the same inputs.

Every ``plans.queries`` aggregate uses these helpers, and every oracle SQL
string mirrors them with the same decimal width/scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Decimal shape used on both engines. 38 digits total / 6 fractional covers
# sums over ~1e9 rows of values up to ~1e20 — far beyond 100 TB table scale.
DEC = "decimal(38,6)"


def dsum(col: Column | str, scale: int = 4) -> Column:
    """Order-independent sum of a double column: exact decimal accumulate,
    round to ``scale``, return double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(DEC)), scale).cast("double")


def davg(col: Column | str, scale: int | None = None) -> Column:
    """Order-independent mean: exact decimal sum / count, in double.

    NO final rounding: dividing the (identical) cast double by the
    (identical) count is deterministic IEEE math on both engines. Rounding
    a computed double is the hazard, not the cure — Spark rounds the
    shortest decimal repr HALF_UP while DuckDB rounds the true binary
    value, so doubles whose repr ends in ...5 diverge (observed:
    round(0.5179225, 6) -> 0.517923 vs 0.517922)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(DEC)).cast("double") / F.count(c)).cast("double")


def cv_expr(col: Column | str, scale: int | None = None) -> Column:
    """Coefficient of variation (population std / mean), oracle-exact.

    The reference computes ``scipy.stats.variation`` per component
    (scripts/parafac/collect_sample_modes.py:92-95). Expressed here over
    exact decimal sums:  cv = sqrt(E[x^2] - E[x]^2) / E[x].
    """
    c = F.col(col) if isinstance(col, str) else col
    n = F.count(c).cast("double")
    s1 = F.sum(c.cast(DEC)).cast("double")
    s2 = F.sum((c * c).cast(DEC)).cast("double")
    mean = s1 / n
    var = s2 / n - mean * mean
    # Guard tiny negative from double math at the end (both engines same).
    # Round at 9: the decimal->double cast of the huge squared-sum (int128
    # beyond 2^53) can differ by 1-2 ulp between engines; rounding far from
    # the value's precision collapses that without re-introducing the
    # short-repr half-point hazard (cv is long-mantissa).
    return F.round(F.sqrt(F.greatest(var, F.lit(0.0))) / mean, 9).cast("double")


def oracle_dsum(expr: str, scale: int = 4) -> str:
    """DuckDB SQL mirroring :func:`dsum`."""
    return f"CAST(ROUND(SUM(CAST(({expr}) AS DECIMAL(38,6))), {scale}) AS DOUBLE)"


def oracle_davg(expr: str, scale: int | None = None) -> str:
    return (
        f"CAST(CAST(SUM(CAST(({expr}) AS DECIMAL(38,6))) AS DOUBLE)"
        f" / COUNT({expr}) AS DOUBLE)"
    )


def oracle_cv(expr: str, scale: int | None = None) -> str:
    s1 = f"CAST(SUM(CAST(({expr}) AS DECIMAL(38,6))) AS DOUBLE)"
    s2 = f"CAST(SUM(CAST((({expr})*({expr})) AS DECIMAL(38,6))) AS DOUBLE)"
    n = f"CAST(COUNT({expr}) AS DOUBLE)"
    mean = f"({s1} / {n})"
    var = f"({s2} / {n} - {mean} * {mean})"
    return f"CAST(ROUND(SQRT(GREATEST({var}, 0.0)) / {mean}, 9) AS DOUBLE)"
