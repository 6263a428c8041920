"""Distributed EXACT group quantiles with bounded per-task state.

Spark's exact ``percentile()`` buffers every value of a group inside a
single aggregation state — O(group) memory on one reducer, the classic
scale ceiling for hot groups (a 100 TB corpus with a handful of group
keys puts billions of doubles in one task). ``percentile_approx`` fixes
the state but gives up exactness.

This operator keeps exactness with two distributed passes (the textbook
distributed-selection scheme), bucketing on a **log-scale (exponent)
histogram** so no min/max pre-pass is needed:

1. **Histogram pass** — each value maps to an order-preserving bucket
   ``sign-aware floor(log2(|v|) * S)`` (S sub-buckets per octave; a pure
   projection, no range join); a map-side-combinable
   ``groupBy(group, bucket).count()`` produces a tiny G×B table. A
   window over THAT table (G×B rows, not the data) locates, for every
   needed rank, the bucket containing it and the rank's offset within
   the bucket.
2. **Selection pass** — only rows falling in candidate buckets are
   re-read from the cached projection; a ``row_number`` window sorted
   per (group, bucket) cell assigns local ranks and an equi-join with
   the target ranks picks the exact values.

State per task is O(B) counters in pass 1 and a disk-spillable window
sort over one candidate cell in pass 2 — neither holds O(group) values
in a single aggregation buffer. Interpolation follows Spark/DuckDB
``quantile_cont``: position ``p*(n-1)`` (0-based), result
``lo + (hi - lo) * frac``.

Degenerate cells: pass 1 also records per-cell min/max, so a cell whose
values are all identical (the one case finer bucketing cannot split —
e.g. a group dominated by a single repeated value; all zeros land in
bucket 0 regardless of resolution) short-circuits to that value with no
selection read at all.

Hot cells: a non-constant candidate cell whose pass-1 count exceeds
``max_cell_rows`` (many DISTINCT values packed inside one log-bucket,
e.g. heavy mass in [1.0, 1.0443) at the default resolution) would
window-sort in a single task — spillable, but serialized. The default
(``hot_cells="raise"``) keeps that bound as a LOUD in-plan guard: the
selection join's local-rank key raises (raise_error in the CONSUMED
expression — the lsh_bands idiom; a guard in a dropped column would be
pruned) naming the mitigation, and the common all-small plan pays no
driver probe at all. ``hot_cells="refine"`` opts into bounded
refinement passes instead: hot cells' rows (only theirs) are
re-bucketed LINEARLY inside the cell's [min, max] span into R
sub-cells sized from the cell count, the target rank is re-located in
the sub-cell histogram, and only the landing sub-cell is rank-sorted.
The re-split ITERATES: a sub-cell that is still both non-constant and
over the bound (intra-cell mass concentrated in a narrow sub-span) is
re-split again against its own tighter [min, max], so the per-task
sort bound holds under arbitrary skew up to 8 levels
(``_MAX_REFINE_LEVELS``; each level tightens the span strictly, and 8
levels of >=256-way splits exhaust double precision for any realistic
distribution). A
cell still hot past the cap falls back to the spillable single-task
window sort — exactness is never affected, only the bound claim, and
only in that adversarial corner. Refinement is gated on ``isEmpty``
probes of the tiny cached candidates table — one driver action per
call even when no cell is hot, which is why "raise" (probe-free) is
the default and refinement is the opt-in for callers that expect hot
cells. NaNs are not handled (filter them like nulls
before calling); +/-infinities are fine — each infinity maps to its
own extreme constant bucket (finite sub-octave indexes top out at
|log2(DBL_MAX)|*S, far below the clamp), and the linear split guards
its division so a non-finite endpoint can never produce NaN/ANSI
errors. Quantiles that land exactly on an infinite value return that
infinity (Spark ``percentile`` parity); interpolating BETWEEN an
infinite and a finite value is NaN on Spark and here alike.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..session import track_cache

# offset separating negative / zero / positive bucket ranges; |log2| of
# any double is <= 1074, so sub-octave indexes stay far inside it
_SIGN_OFF = 1_000_000


def _log_bucket(v: Column, sub_octave: int) -> Column:
    """Order-preserving integer bucket of a double, no range scan:
    sign-aware ``floor(log2(|v|) * S)``. Monotonic in v because log2 is
    monotonic on positives and the negative branch mirrors it below the
    zero bucket."""
    mag = F.floor(F.log2(F.abs(v)) * sub_octave).cast("long")
    clamped = F.least(F.greatest(mag, F.lit(-_SIGN_OFF + 1)), F.lit(_SIGN_OFF - 1))
    return (
        F.when(v > 0, F.lit(_SIGN_OFF) + clamped)
        .when(v < 0, F.lit(-_SIGN_OFF) - clamped)
        .otherwise(F.lit(0))
        .cast("long")
    )


def exact_group_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    probs: list[float],
    *,
    buckets: int = 1024,
    max_cell_rows: int = 1_000_000,
    hot_cells: str = "raise",
) -> DataFrame:
    """Exact ``quantile_cont`` per group for each probability.

    Returns one row per group with an array column ``quantiles``
    ordered like ``probs`` (plus the group columns). NULL values are
    ignored (SQL aggregate semantics); a group with zero non-null
    values produces no row. ``buckets`` tunes histogram resolution
    (``buckets/16`` sub-buckets per octave). ``max_cell_rows`` bounds
    the number of rows any single selection task may sort; a candidate
    cell over the bound is handled per ``hot_cells``:

    - ``"raise"`` (default): the plan is probe-free — the bound is a
      loud ``raise_error`` inside the selection join's consumed rank
      expression. The error names both mitigations (raise the bound or
      pass ``hot_cells="refine"``). Use when hot cells are a data bug,
      not an expected shape.
    - ``"refine"``: hot cells take bounded linear-refinement passes
      (see module docstring) so the sort bound holds under arbitrary
      skew — at the price of one ``isEmpty`` driver probe per call
      (plus one per refinement level actually taken).
    """
    if not probs:
        raise ValueError("probs must name at least one quantile")
    if any(not 0.0 <= p <= 1.0 for p in probs):
        raise ValueError(f"probs must be in [0, 1], got {probs}")
    if max_cell_rows < 1:
        raise ValueError(f"max_cell_rows must be >= 1, got {max_cell_rows}")
    if hot_cells not in ("raise", "refine"):
        raise ValueError(f"hot_cells must be 'raise' or 'refine', got {hot_cells!r}")
    sub_octave = max(1, buckets // 16)
    g = [F.col(c) for c in group_cols]

    # Single-scan projection with the bucket precomputed, cached: the
    # histogram pass and the selection pass both read it.
    vals = track_cache(
        df.filter(F.col(value_col).isNotNull())
        .select(*g, F.col(value_col).cast("double").alias("__v"))
        .withColumn("__b", _log_bucket(F.col("__v"), sub_octave))
    )

    # Pass 1: histogram — the ONLY full-data aggregation; everything
    # below the counts table is G×B-row arithmetic.
    counts = vals.groupBy(*group_cols, "__b").agg(
        F.count(F.lit(1)).alias("__c"),
        F.min("__v").alias("__bmin"),
        F.max("__v").alias("__bmax"),
    )
    wg = W.partitionBy(*group_cols)
    wcum = wg.orderBy("__b").rowsBetween(W.unboundedPreceding, -1)
    cum = counts.withColumn("__n", F.sum("__c").over(wg)).withColumn(
        "__before", F.coalesce(F.sum("__c").over(wcum), F.lit(0))
    )

    # 0-based position p*(n-1); ranks are 1-based row_numbers. Each
    # probability needs two ranks (floor/ceil of the position), emitted
    # as tagged rows. Both the target ranks AND their locating bucket
    # are derived directly on the cum rows (every row carries its
    # group's __n), so no distinct / self-join over the histogram is
    # needed: explode G×B rows by P probs × 2 roles, keep the row whose
    # (before, before+c] interval contains the rank — the intervals
    # partition [1, n], so exactly one row survives per (group, p, role).
    #
    # cand is tiny (two rows per probability per group) but its subtree
    # contains the whole histogram pass — it feeds the candidate-bucket
    # filter, the hot-cell probe, and the final rank lookup, and each
    # materialization would re-run the pass uncached.
    cand = track_cache(
        cum.select(
            *group_cols,
            "__b",
            "__c",
            "__bmin",
            "__bmax",
            "__before",
            "__n",
            F.posexplode(F.array(*[F.lit(float(p)) for p in probs])).alias("__pi", "__p"),
        )
        .withColumn("__pos", F.col("__p") * (F.col("__n") - 1))
        .withColumn("__frac", F.col("__pos") - F.floor("__pos"))
        .select(
            *group_cols,
            "__b",
            "__c",
            "__bmin",
            "__bmax",
            "__before",
            "__n",
            "__pi",
            "__frac",
            F.explode(
                F.array(
                    F.struct(
                        (F.floor("__pos") + 1).cast("long").alias("__rank"),
                        F.lit(0).alias("__role"),
                    ),
                    F.struct(
                        (F.least(F.ceil("__pos"), F.col("__n") - 1) + 1)
                        .cast("long")
                        .alias("__rank"),
                        F.lit(1).alias("__role"),
                    ),
                )
            ).alias("__t"),
        )
        .filter(
            (F.col("__t.__rank") > F.col("__before"))
            & (F.col("__t.__rank") <= F.col("__before") + F.col("__c"))
        )
        .select(
            *group_cols,
            "__pi",
            "__frac",
            F.col("__t.__role").alias("__role"),
            "__b",
            (F.col("__t.__rank") - F.col("__before")).alias("__lr"),
            "__c",
            "__bmin",
            "__bmax",
        )
    )

    # Constant cells (min == max): every value in the cell is the same
    # number — the one shape finer bucketing can't split — so the answer
    # is the cell min itself, with no second read of the data.
    const_picks = cand.filter(F.col("__bmin") == F.col("__bmax")).select(
        *group_cols, "__pi", "__frac", "__role", F.col("__bmin").alias("__v")
    )
    if hot_cells == "raise":
        # probe-free default: every non-constant candidate goes to the
        # selection join, whose CONSUMED local-rank key raises on a hot
        # cell (a guard in its own dropped column would be pruned by
        # Catalyst and never evaluate — the lsh_bands idiom)
        lr_guarded = (
            F.when(F.col("__c") <= max_cell_rows, F.col("__lr"))
            .otherwise(
                F.raise_error(
                    F.format_string(
                        "exact_group_quantiles: a candidate cell holds %s rows, "
                        f"over max_cell_rows={max_cell_rows} — a single selection "
                        "task would sort it serialized. Raise max_cell_rows, or "
                        "pass hot_cells='refine' for bounded refinement passes",
                        F.col("__c"),
                    )
                )
            )
            .cast("int")
        )
        var_cand = cand.filter(F.col("__bmin") != F.col("__bmax")).select(
            *group_cols, "__pi", "__frac", "__role", "__b", lr_guarded.alias("__lr")
        )
        hot_cand = None
    else:
        var_cand = cand.filter(
            (F.col("__bmin") != F.col("__bmax")) & (F.col("__c") <= max_cell_rows)
        ).select(
            *group_cols, "__pi", "__frac", "__role", "__b", F.col("__lr").cast("int").alias("__lr")
        )
        hot_cand = cand.filter(
            (F.col("__bmin") != F.col("__bmax")) & (F.col("__c") > max_cell_rows)
        )

    # Pass 2: re-read ONLY non-constant candidate cells; a row_number
    # window sorted within the cell assigns local ranks (external-sort
    # spillable — the cell never sits in one agg buffer as an array)
    # and the target ranks equi-join against it.
    need = var_cand.select(*group_cols, "__b").distinct()
    ranked = vals.join(F.broadcast(need), [*group_cols, "__b"]).withColumn(
        "__lr", F.row_number().over(W.partitionBy(*group_cols, "__b").orderBy("__v"))
    )
    var_picks = ranked.join(var_cand, [*group_cols, "__b", "__lr"]).select(
        *group_cols, "__pi", "__frac", "__role", "__v"
    )

    # Hot cells (count > max_cell_rows) under hot_cells="refine": one
    # extra bounded refinement pass instead of a single-task sort. The
    # gate is an isEmpty probe of the tiny cached candidates table
    # (G×P×2 rows, never the data).
    if hot_cand is not None and not hot_cand.isEmpty():
        var_picks = var_picks.unionByName(
            _refined_hot_picks(vals, group_cols, hot_cand, max_cell_rows)
        )

    # Final assembly in ONE aggregation: per group there are exactly
    # 2 pick rows per probability (role 0 = rank floor, role 1 = rank
    # ceil), so collect_list holds <= 2P structs — bounded state — and
    # the quantiles array is pure expression arithmetic over it
    # (Spark Percentile.getPercentile's formula: lo + (hi-lo)*frac).
    picks = var_picks.unionByName(const_picks).groupBy(*group_cols).agg(
        F.collect_list(F.struct("__pi", "__role", "__frac", "__v")).alias("__t")
    )

    def _pick(i: int, role: int) -> Column:
        return F.filter(
            F.col("__t"),
            lambda x: (x["__pi"] == F.lit(i)) & (x["__role"] == F.lit(role)),
        )[0]

    quantile_exprs = []
    for i in range(len(probs)):
        lo, hi = _pick(i, 0), _pick(i, 1)
        # Exact-hit guard: when the position is integral (frac == 0) or
        # both picks are the same value, return the pick itself instead
        # of running it through the interpolation arithmetic — for
        # finite values the result is bit-identical, but an infinite
        # pick would otherwise turn into NaN (inf - inf), where Spark's
        # percentile() returns the infinity.
        quantile_exprs.append(
            F.when((lo["__frac"] == 0) | (lo["__v"] == hi["__v"]), lo["__v"]).otherwise(
                lo["__v"] + (hi["__v"] - lo["__v"]) * lo["__frac"]
            )
        )
    return picks.select(*group_cols, F.array(*quantile_exprs).alias("quantiles"))


_DBL_MAX = 1.7976931348623157e308

# Refinement levels before a still-hot cell falls back to the spillable
# single-task window sort.
_MAX_REFINE_LEVELS = 8


def _refined_hot_picks(
    vals: DataFrame,
    group_cols: list[str],
    hot_cand: DataFrame,
    max_cell_rows: int,
) -> DataFrame:
    """Iterated adaptive re-split of hot candidate cells (count >
    max_cell_rows).

    Log-refinement cannot split a cell whose values sit in a narrow
    interval, so the refinement is LINEAR inside the cell's pass-1
    [min, max] span: R sub-cells with R sized from the cell count
    (16 × ceil(c / bound), clamped), giving ~bound/16 expected rows per
    sub-cell on even mass. One histogram aggregation over hot-cell rows
    only re-locates each target rank inside its sub-cell; constant
    sub-cells short-circuit like pass-1 constant cells, small sub-cells
    rank-sort one sub-cell each, and a sub-cell that is STILL hot
    (mass concentrated in a narrow sub-span with many distinct values)
    loops: it becomes the next level's cell, re-split against its own
    strictly tighter [min, max]. Each level is gated on an ``isEmpty``
    probe of the tiny target table, so extra levels only run when the
    data demands them; after ``_MAX_REFINE_LEVELS`` a still-hot cell
    falls back to the spillable single-task window sort (exact, just
    not bound-limited — an adversarial corner documented in SCALE.md).

    The sub-cell index guards non-finite endpoints: rows at/below the
    cell min clamp to sub-cell 0, rows at/above the max to R-1, the
    endpoints are clamped into the finite double range before the
    division, and a NaN ratio (inf/inf from a cell spanning the whole
    double line) falls back to sub-cell 0 — no NaN ever reaches
    floor/cast under ANSI. Cell identity across levels is the string
    path ``b#b2#b3...`` (equality-joined only; ordering is only ever
    needed WITHIN a parent cell, where the child index alone orders).
    """
    targets = track_cache(
        hot_cand.select(
            *group_cols,
            "__pi",
            "__frac",
            "__role",
            F.col("__b").cast("string").alias("__cell"),
            F.col("__lr").cast("long").alias("__lr"),
            F.col("__bmin").alias("__cmin"),
            F.col("__bmax").alias("__cmax"),
            F.col("__c").alias("__cc"),
        )
    )
    rows = vals.select(*group_cols, F.col("__b").cast("string").alias("__cell"), "__v")
    picks: DataFrame | None = None

    def _add(p: DataFrame) -> None:
        nonlocal picks
        picks = p if picks is None else picks.unionByName(p)

    for level in range(1, _MAX_REFINE_LEVELS + 1):
        cells = (
            targets.select(*group_cols, "__cell", "__cmin", "__cmax", "__cc")
            .distinct()
            .withColumn(
                "__r",
                F.least(
                    F.greatest(F.ceil(F.col("__cc") / max_cell_rows) * 16, F.lit(256)),
                    F.lit(65536),
                ).cast("long"),
            )
        )
        lo = F.greatest(F.col("__cmin"), F.lit(-_DBL_MAX))
        hi = F.least(F.col("__cmax"), F.lit(_DBL_MAX))
        ratio = F.nanvl((F.col("__v") - lo) / (hi - lo) * F.col("__r"), F.lit(0.0))
        sub = (
            F.when(F.col("__v") <= F.col("__cmin"), F.lit(0).cast("long"))
            .when(F.col("__v") >= F.col("__cmax"), F.col("__r") - 1)
            .otherwise(
                F.least(F.greatest(F.floor(ratio), F.lit(0)), F.col("__r") - 1)
            )
        )
        lv = track_cache(
            rows.join(F.broadcast(cells), [*group_cols, "__cell"]).select(
                *group_cols, "__cell", sub.alias("__b2"), "__v"
            )
        )
        counts2 = lv.groupBy(*group_cols, "__cell", "__b2").agg(
            F.count(F.lit(1)).alias("__c2"),
            F.min("__v").alias("__bmin2"),
            F.max("__v").alias("__bmax2"),
        )
        wcum2 = (
            W.partitionBy(*group_cols, "__cell")
            .orderBy("__b2")
            .rowsBetween(W.unboundedPreceding, -1)
        )
        cum2 = counts2.withColumn(
            "__before2", F.coalesce(F.sum("__c2").over(wcum2), F.lit(0))
        )
        t2 = track_cache(
            targets.select(*group_cols, "__pi", "__frac", "__role", "__cell", "__lr")
            .join(cum2, [*group_cols, "__cell"])
            .filter(
                (F.col("__lr") > F.col("__before2"))
                & (F.col("__lr") <= F.col("__before2") + F.col("__c2"))
            )
            .select(
                *group_cols,
                "__pi",
                "__frac",
                "__role",
                "__cell",
                "__b2",
                (F.col("__lr") - F.col("__before2")).alias("__lr2"),
                "__bmin2",
                "__bmax2",
                "__c2",
            )
        )
        _add(
            t2.filter(F.col("__bmin2") == F.col("__bmax2")).select(
                *group_cols, "__pi", "__frac", "__role", F.col("__bmin2").alias("__v")
            )
        )
        still_hot = t2.filter(
            (F.col("__bmin2") != F.col("__bmax2")) & (F.col("__c2") > max_cell_rows)
        )
        last = level == _MAX_REFINE_LEVELS or still_hot.isEmpty()
        # Small sub-cells sort here; on the final level the still-hot
        # remainder (if any) joins them — spillable fallback.
        sortable = t2.filter(
            (F.col("__bmin2") != F.col("__bmax2"))
            & (F.lit(last) | (F.col("__c2") <= max_cell_rows))
        ).select(
            *group_cols,
            "__pi",
            "__frac",
            "__role",
            "__cell",
            "__b2",
            F.col("__lr2").cast("int").alias("__lr2"),
        )
        need2 = sortable.select(*group_cols, "__cell", "__b2").distinct()
        ranked2 = lv.join(F.broadcast(need2), [*group_cols, "__cell", "__b2"]).withColumn(
            "__lr2",
            F.row_number().over(
                W.partitionBy(*group_cols, "__cell", "__b2").orderBy("__v")
            ),
        )
        _add(
            ranked2.join(sortable, [*group_cols, "__cell", "__b2", "__lr2"]).select(
                *group_cols, "__pi", "__frac", "__role", "__v"
            )
        )
        if last:
            break
        targets = track_cache(
            still_hot.select(
                *group_cols,
                "__pi",
                "__frac",
                "__role",
                F.concat_ws("#", "__cell", F.col("__b2").cast("string")).alias("__cell"),
                F.col("__lr2").alias("__lr"),
                F.col("__bmin2").alias("__cmin"),
                F.col("__bmax2").alias("__cmax"),
                F.col("__c2").alias("__cc"),
            )
        )
        rows = lv.select(
            *group_cols,
            F.concat_ws("#", "__cell", F.col("__b2").cast("string")).alias("__cell"),
            "__v",
        )
    assert picks is not None
    return picks
