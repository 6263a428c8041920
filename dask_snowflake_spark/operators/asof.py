"""As-of (nearest-key time) join.

Spark has no native as-of join (SURVEY.md §2.B: "thin custom helper").
This implements the scalable union-window technique:

1. tag left/right rows and union them on (key, ts),
2. one window sorted by (ts, side-tag) per key carries the latest right
   row forward (``last(..., ignorenulls=True)``),
3. keep the left rows, now annotated with their as-of match.

Cost: ONE shuffle on the join key + a sort within partitions — the same
shape as a sort-merge join, with none of the per-group pandas overhead
of the ``merge_asof``-in-``applyInPandas`` alternative, and no range
explosion. Semantics: backward as-of (right.ts <= left.ts), ties
included, matching DuckDB's ``ASOF JOIN ... ON l.ts >= r.ts``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str] | None = None,
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """As-of join with the ``merge_asof`` surface: for each left row,
    the nearest right row within the same ``on`` key —

    - ``direction='backward'`` (default): greatest ``right_ts`` <=
      ``left_ts`` (ties included);
    - ``direction='forward'``: smallest ``right_ts`` >= ``left_ts``
      (ties included);
    - ``tolerance_seconds``: matches farther than this from the left
      timestamp are nulled out (the match columns become NULL, the left
      row is kept — merge_asof semantics).

    ``right_cols`` limits which right columns are carried (default: all
    non-key, non-ts). Right rows with duplicate (key, ts) must be
    pre-deduplicated by the caller for deterministic output.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be 'backward' or 'forward', got {direction!r}")
    # the tolerance delta (and the union'd __ts ordering) dispatches on
    # the timestamp type — a timestamp left against a numeric right
    # would silently compare epoch-micros to raw numbers
    l_tn = left.schema[left_ts].dataType.typeName()
    r_tn = right.schema[right_ts].dataType.typeName()
    l_is_ts = l_tn.startswith("timestamp")
    r_is_ts = r_tn.startswith("timestamp")
    if l_is_ts != r_is_ts or (l_is_ts and l_tn != r_tn):
        # same FAMILY is not enough: a TIMESTAMP_NTZ left union'd with a
        # TIMESTAMP_LTZ right coerces NTZ through the session timezone,
        # silently shifting every comparison by the UTC offset (r4+
        # parquet fixtures read NTZ while the streaming path emits LTZ)
        raise TypeError(
            f"left_ts {left_ts!r} ({left.schema[left_ts].dataType.simpleString()}) and "
            f"right_ts {right_ts!r} ({right.schema[right_ts].dataType.simpleString()}) "
            "must be the SAME type: both numeric, both TIMESTAMP, or both "
            "TIMESTAMP_NTZ (mixed timestamp types coerce through the session "
            "timezone inside the union)"
        )
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (on, right_ts)]
    else:
        # right_ts is always appended as {right_ts}_asof; a caller
        # listing it in right_cols would otherwise build a struct with
        # duplicate fields and fail extraction with an ambiguous-
        # reference error
        right_cols = [c for c in right_cols if c != right_ts]
    # equi-join key semantics (DuckDB ASOF JOIN, merge_asof by=): a NULL
    # key matches nothing — NULL-key RIGHT rows are dropped here, which
    # leaves NULL-key left rows alone in their window partition, so they
    # surface with a NULL match instead of matching each other. A NULL
    # right TIMESTAMP is equally unmatchable (merge_asof/DuckDB ASOF
    # never emit it) — but without the filter it sorts NULLS FIRST in
    # the backward window and its non-null __right struct would be
    # carried as the "latest" match for left rows preceding any real
    # right row.
    right = right.filter(F.col(on).isNotNull() & F.col(right_ts).isNotNull())

    lhs = left.select(
        F.col(on).alias("__key"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.struct(*left.columns).alias("__left"),
        F.lit(None).cast(
            right.select(F.struct(*right_cols, F.col(right_ts)).alias("s")).schema["s"].dataType
        ).alias("__right"),
    )
    rhs = right.select(
        F.col(on).alias("__key"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(
            left.select(F.struct(*left.columns).alias("s")).schema["s"].dataType
        ).alias("__left"),
        F.struct(*right_cols, F.col(right_ts)).alias("__right"),
    )

    if direction == "backward":
        # right rows sort before left rows at equal ts (__is_left asc),
        # so a tie (right.ts == left.ts) IS visible to the left row
        w = (
            W.partitionBy("__key")
            .orderBy(F.col("__ts"), F.col("__is_left"))
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        match = F.last("__right", ignorenulls=True).over(w)
    else:
        # forward: scan in DESCENDING ts order with a GROWING frame —
        # last non-null right in [start, current] is the smallest
        # right_ts >= left_ts. The natural first(...) over a shrinking
        # [currentRow, unboundedFollowing] frame computes the same
        # value but Spark evaluates shrinking frames by re-aggregating
        # from each row to the partition end (UnboundedFollowing frame
        # processor) — O(rows^2) per key partition; the growing frame
        # is incremental O(rows), same as the backward path. Right
        # rows sort before left rows at equal ts (__is_left asc under
        # desc ts) so ties stay visible.
        w = (
            W.partitionBy("__key")
            .orderBy(F.col("__ts").desc(), F.col("__is_left"))
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        match = F.last("__right", ignorenulls=True).over(w)
    merged = (
        lhs.unionByName(rhs)
        .withColumn("__match", match)
        .filter(F.col("__is_left") == 1)
    )
    if tolerance_seconds is not None:
        lt, rt = F.col("__ts"), F.col("__match")[right_ts]
        if l_is_ts:  # both sides validated same type family above
            # timestamp_diff handles TIMESTAMP and TIMESTAMP_NTZ alike
            # (unix_micros rejects NTZ, which parquet timestamp[us]
            # fixtures produce)
            delta = F.abs(F.timestamp_diff("MICROSECOND", rt, lt)) / 1e6
        else:
            delta = F.abs(lt.cast("double") - rt.cast("double"))
        merged = merged.withColumn(
            "__match", F.when(delta <= F.lit(float(tolerance_seconds)), F.col("__match"))
        )
    out_cols = [F.col("__left")[c].alias(c) for c in left.columns]
    out_cols += [F.col("__match")[c].alias(f"{c}_asof") for c in right_cols]
    out_cols.append(F.col("__match")[right_ts].alias(f"{right_ts}_asof"))
    return merged.select(*out_cols)
