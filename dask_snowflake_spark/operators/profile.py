"""Dataset profiling: per-column statistics in one aggregation job.

Pipeline QA wants a quick shape check (nulls, ranges, cardinalities)
before and after every transform. ``profile`` computes every metric for
every requested column inside a single aggregation job — one reduce, no
per-column jobs like ``df.summary()``'s multi-pass approach — then
unpivots to the long (column, metric, value) form dashboards and diff
tools want.

Scale caveat: the exact distinct counts compile to an Expand node that
replicates every scanned row ~(N+1)× before the aggregation — so
profiling many columns is NOT single-scan-priced, and the per-count
state grows with cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_ROUND_DIGITS = 4
_MEAN_SCALE = 10_000


def profile(df: DataFrame, columns: list[str]) -> DataFrame:
    """Long-format profile: one row per (column, metric) with metrics
    n_rows / n_nonnull / n_null / n_distinct / min / max / mean (all as
    double for a uniform value column).

    min, max and mean are rounded to 4 digits. The mean is the QUANTIZED
    mean ``sum(round(col * 1e4)) / (1e4 * n_nonnull)`` — an exact
    integer sum divided once, so the value is the identical double on
    every engine and partitioning (a raw float mean depends on summation
    ORDER: Spark's partial-merge vs DuckDB's sequential sums differ by
    ulps, and rounding that flips near halfway boundaries —
    fixture-luck). Exact for inputs with <= 4 decimals (money),
    otherwise within 1/2e4 of the true mean. Column
    and metric names ride as ``F.lit`` columns through an explode
    unpivot — never interpolated into SQL text."""
    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for i, c in enumerate(columns):
        q = F.col(c).cast("double") * _MEAN_SCALE
        aggs += [
            F.count(c).alias(f"__nn_{i}"),
            F.countDistinct(c).alias(f"__nd_{i}"),
            F.round(F.min(c).cast("double"), _ROUND_DIGITS).alias(f"__mn_{i}"),
            F.round(F.max(c).cast("double"), _ROUND_DIGITS).alias(f"__mx_{i}"),
            F.sum(F.round(q, 0).cast("long")).alias(f"__sq_{i}"),
        ]
    wide = df.agg(*aggs)
    rows = []
    for i, c in enumerate(columns):
        nn = F.col(f"__nn_{i}")
        mean = F.when(
            nn > 0,
            F.round(F.col(f"__sq_{i}") / (float(_MEAN_SCALE) * nn), _ROUND_DIGITS),
        )
        for metric, expr in (
            ("n_rows", F.col("__n_rows").cast("double")),
            ("n_nonnull", nn.cast("double")),
            ("n_null", (F.col("__n_rows") - nn).cast("double")),
            ("n_distinct", F.col(f"__nd_{i}").cast("double")),
            ("min", F.col(f"__mn_{i}")),
            ("max", F.col(f"__mx_{i}")),
            ("mean", mean),
        ):
            rows.append(
                F.struct(
                    F.lit(c).alias("column_name"),
                    F.lit(metric).alias("metric"),
                    expr.cast("double").alias("value"),
                )
            )
    return wide.select(F.explode(F.array(*rows)).alias("__r")).select(
        "__r.column_name", "__r.metric", "__r.value"
    )
