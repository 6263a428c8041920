"""Deterministic sampling / dataset-split operators for training-data
pipelines.

RNG-based sampling (``df.sample``) is irreproducible across engines,
partitionings, and task retries — a row's fate depends on where it
lands. These operators decide per-row from a content hash instead
(``portable_hash``, md5-derived and engine-portable), so:

- the same row always lands in the same split, no matter the cluster
  layout, retry history, or engine (exactly reproducible in the DuckDB
  oracle);
- splits are stable under corpus growth (adding documents never moves
  existing ones between train/val/test — the property that prevents
  silent eval-set contamination across dataset versions);
- it is a pure projection: scan-speed, no shuffle, no RNG state.

The hash is salted with a name so independent samples/splits decorrelate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import portable_hash

# portable_hash yields 60 bits; bucket to a fixed denominator so
# fractions are exact and the SQL replica is a one-liner.
_BUCKETS = 1_000_000


def _bucket(key: Column, salt: str) -> Column:
    # NULL keys hash to NULL (md5(concat(..., NULL)) is NULL), which
    # would silently DROP the row from every sample (filter on NULL)
    # and dump it into the when-chain's otherwise() split — coalesce to
    # a sentinel so NULL-keyed rows get one deterministic fate like any
    # other key (a literal key equal to the sentinel shares that fate;
    # pick keys accordingly)
    keyed = F.coalesce(key.cast("string"), F.lit("\x00<null-key>"))
    return F.pmod(portable_hash(keyed, F.lit(salt)), F.lit(_BUCKETS))


def deterministic_sample(
    df: DataFrame, key: str, fraction: float, *, salt: str = "sample"
) -> DataFrame:
    """Keep ~``fraction`` of rows, decided by hash(key) — reproducible
    across engines/retries/partitionings, unlike ``df.sample``."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    # round, not int(): int() floor-truncates binary-float artifacts
    # (int(0.3 * 1e6) == 299999), silently shifting the boundary by one
    # bucket versus the exact quantization any SQL oracle writes down
    return df.filter(_bucket(F.col(key), salt) < round(fraction * _BUCKETS))


def split_assign(
    df: DataFrame,
    key: str,
    weights: dict[str, float],
    *,
    salt: str = "split",
) -> DataFrame:
    """Add a ``split`` column ('train'/'val'/... by ``weights``) decided
    by hash(key). Weights must sum to 1; split names are assigned to
    contiguous hash ranges in sorted-name order, so the mapping is a
    pure deterministic function of (key, salt, weights)."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    bad = {n: wt for n, wt in weights.items() if not 0.0 <= wt <= 1.0}
    if bad:
        # a negative weight can still sum to 1 (e.g. {-0.5, 1.5}) and
        # would silently produce an empty split
        raise ValueError(f"weights must each be in [0, 1], got {bad}")
    b = _bucket(F.col(key), salt)
    expr = None
    hi = 0
    for name in sorted(weights):
        hi += round(weights[name] * _BUCKETS)
        cond = b < hi
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    # float-truncation slack: anything past the last boundary joins the
    # (sorted-)last split
    expr = expr.otherwise(sorted(weights)[-1])
    return df.withColumn("split", expr)


def stratified_deterministic_sample(
    df: DataFrame,
    key: str,
    strata: str,
    fractions: dict,
) -> DataFrame:
    """Per-stratum deterministic sampling (``df.sampleBy`` without the
    RNG): each value of the ``strata`` column gets its own
    keep-fraction. For multi-column strata, concat them into one column
    first."""
    if not fractions:
        raise ValueError("fractions must name at least one stratum")
    bad = {v: f for v, f in fractions.items() if not 0.0 <= f <= 1.0}
    if bad:
        raise ValueError(f"fractions must be in [0, 1], got {bad}")
    strata_col = F.col(strata)
    b = _bucket(F.col(key), "stratified")
    keep = None
    for value, frac in sorted(fractions.items(), key=lambda kv: str(kv[0])):
        cond = (strata_col == value) & (b < round(frac * _BUCKETS))
        keep = cond if keep is None else keep | cond
    return df.filter(keep)
