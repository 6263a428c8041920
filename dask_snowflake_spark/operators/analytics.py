"""Operational-analytics operators: declarative constraint audits,
Markov transition matrices, and sweep-line interval occupancy.

Reference parity note: the reference (coiled/dask-snowflake, core.py)
delegates all computation to the warehouse as one SQL string; these are
the readouts a warehouse user writes by hand, packaged as reusable
DataFrame transforms with scale-correct plans:

- ``constraint_audit``: Deequ-style data-quality gate — any number of
  boolean rules evaluated as conditional sums in ONE aggregation over
  ONE scan (never a job per rule), unpivoted to a per-rule report.
- ``transition_matrix``: first-order Markov chain over per-entity
  ordered event streams; row-stochastic probabilities come from a
  window over the |states|^2 matrix, never a totals self-join (which
  would re-evaluate the upstream subtree — see SCALE.md).
- ``interval_occupancy``: how many intervals are live at each point of
  a bounded axis, via the sweep line (+1/-1 deltas, point aggregation,
  one running sum over the aggregated axis) — O(rows) map work, never
  a point-by-interval range join.
- ``last_touch_attribution``: per-conversion channel credit from one
  window node (two last-ignorenulls expressions, microsecond-exact
  lookback).
- ``basket_affinity``: market-basket support + lift from in-array
  pair enumeration (``array_pairs``, bounded by basket size) with
  broadcast item frequencies.

Determinism contract (CLAUDE.md): ratios are integer-quantized
(``x * 1_000_000 div total / 1e6``) so both engines of an oracle pair
floor the same integers; callers order output by unique keys.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def constraint_audit(df: DataFrame, rules: Mapping[str, Column]) -> DataFrame:
    """Evaluate ``rules`` (name -> boolean Column, True = row passes)
    in one aggregation pass and return one row per rule:
    ``(rule, n_rows, n_violations, pass_ratio)``, ordered by rule name.

    The plan is a single scan + one map-side-combinable aggregate of
    conditional sums + an in-plan explode unpivot — adding a rule adds
    a column to the aggregate, not a pass over the data. Rule names are
    carried as ``F.lit`` columns, never interpolated into SQL text (a
    quote or backslash in a name must not break or inject into the
    plan). On an empty input every rule reports ``n_violations = 0``
    and ``pass_ratio = 1.0`` (a vacuous audit passes) rather than NULLs
    a downstream ``== 0`` gate would silently treat as falsy.
    """
    if not rules:
        raise ValueError("constraint_audit needs at least one rule")
    names = sorted(rules)
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for i, name in enumerate(names):
        aggs.append(
            F.coalesce(F.sum(F.when(rules[name], 0).otherwise(1)), F.lit(0))
            .cast("long")
            .alias(f"__v{i}")
        )
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(n).alias("rule"), F.col(f"__v{i}").alias("n_violations")
                )
                for i, n in enumerate(names)
            ]
        )
    )
    return (
        df.agg(*aggs)
        .select(F.col("__n"), pairs.alias("__p"))
        .select(
            F.col("__p.rule").alias("rule"),
            F.col("__n").alias("n_rows"),
            F.col("__p.n_violations").alias("n_violations"),
            F.when(F.col("__n") == 0, F.lit(1.0))
            .otherwise(
                F.expr("((__n - __p.n_violations) * 1000000) div __n") / 1e6
            )
            .alias("pass_ratio"),
        )
        .orderBy("rule")
    )


def transition_matrix(
    df: DataFrame,
    entity_col: str,
    order_cols: Sequence[str],
    state_col: str,
) -> DataFrame:
    """First-order transition counts + row-stochastic probabilities over
    per-entity event streams: ``(from_state, to_state, n_transitions,
    prob)``, ordered by (from_state, to_state).

    ``order_cols`` must be UNIQUE per entity (pass a tiebreaker id —
    a timestamp alone can tie and make lag() nondeterministic). One
    entity-keyed window shuffle + one pair aggregation; the matrix is
    |states|^2 rows regardless of corpus size, so the normalizing
    window is O(matrix), not O(events).
    """
    w = Window.partitionBy(entity_col).orderBy(*order_cols)
    pairs = (
        df.select(
            F.col(state_col).alias("to_state"),
            F.lag(state_col).over(w).alias("from_state"),
        )
        .filter(F.col("from_state").isNotNull())
        .groupBy("from_state", "to_state")
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    )
    return (
        pairs.withColumn(
            "__from_total",
            F.sum("n_transitions").over(Window.partitionBy("from_state")),
        )
        .select(
            "from_state",
            "to_state",
            "n_transitions",
            (F.expr("(n_transitions * 1000000) div __from_total") / 1e6).alias("prob"),
        )
        .orderBy("from_state", "to_state")
    )


def interval_occupancy(
    df: DataFrame, start_col: str, end_col: str, end_inclusive: bool = True
) -> DataFrame:
    """Sweep-line occupancy over DATE intervals: ``(day, net_change,
    occupancy)`` for every day where the count changes, ordered by day.

    Each interval becomes a +1 delta at its start and a -1 delta the
    day after its (inclusive) end; daily net change aggregates
    map-side, and the running sum is ONE window over the aggregated
    day axis — bounded by the calendar span, whatever the row count.
    NULL starts/ends are rejected by the caller's filter; intervals
    with end < start have their close clamped up to the start day, so
    they contribute a same-day +1/-1 pair that nets to zero — the
    occupancy curve can never go negative over a gap. Both columns are
    cast to DATE inside the operator: a TIMESTAMP input would otherwise
    put intra-day opens and midnight-coerced closes on a
    mixed-granularity axis (``date_add`` yields DATE) and the "per day
    where the count changes" contract would silently break.
    """
    start = F.col(start_col).cast("date")
    end = F.col(end_col).cast("date")
    close = F.date_add(end, 1) if end_inclusive else end
    close = F.greatest(start, close)
    delta = df.select(
        F.explode(
            F.array(
                F.struct(start.alias("day"), F.lit(1).alias("d")),
                F.struct(close.alias("day"), F.lit(-1).alias("d")),
            )
        ).alias("e")
    ).select("e.day", "e.d")
    daily = delta.groupBy("day").agg(F.sum("d").cast("long").alias("net_change"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        daily.withColumn("occupancy", F.sum("net_change").over(w).cast("long"))
        .select("day", "net_change", "occupancy")
        .orderBy("day")
    )


def last_touch_attribution(
    df: DataFrame,
    entity_col: str,
    order_cols: Sequence[str],
    ts_col: str,
    state_col: str,
    touch_states: Sequence[str],
    conversion_state: str,
    lookback_micros: int | None = None,
) -> DataFrame:
    """Row-level last-touch credit: every conversion row of ``df`` with
    a ``channel`` column — the most recent preceding touch state within
    the per-entity stream (and within ``lookback_micros`` of the
    conversion, compared in exact MICROSECONDS — second-granularity
    timestamp diffs disagree across engines), or ``'none'``.

    ``order_cols`` must be unique per entity. Touch state and touch
    time come from ONE atomic ``last(struct(ts, state), ignorenulls)``
    window expression — two independent ``last`` calls would
    desynchronize when a touch row carries a NULL timestamp (the state
    of the latest touch paired with the time of an EARLIER one, wrong
    credit); atomically, a latest touch with NULL ts simply fails the
    lookback check. The credit decision is pure projection — one
    entity-keyed shuffle regardless of lookback. Callers aggregate
    (channel counts, revenue) on top.
    """
    w = (
        Window.partitionBy(entity_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col(state_col).isin(*touch_states)
    within = F.col("__touch.state").isNotNull()
    if lookback_micros is not None:
        within = within & (
            F.timestamp_diff("MICROSECOND", F.col("__touch.ts"), F.col(ts_col))
            <= lookback_micros
        )
    return (
        df.select(
            "*",
            F.last(
                F.when(
                    is_touch,
                    F.struct(
                        F.col(ts_col).alias("ts"), F.col(state_col).alias("state")
                    ),
                ),
                ignorenulls=True,
            )
            .over(w)
            .alias("__touch"),
        )
        .filter(F.col(state_col) == conversion_state)
        .withColumn(
            "channel", F.when(within, F.col("__touch.state")).otherwise("none")
        )
        .drop("__touch")
    )


def array_pairs(arr: Column) -> Column:
    """Every ``array(arr[i], arr[j])`` with i < j, as one flat array —
    in-array pair enumeration (the r8 wedge idiom): explode it map-side
    instead of self-joining the array's rows, so the only bound is the
    array's own length squared. Over a sorted array each pair comes out
    in order (left <= right)."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                # slice length: the total size is a safe upper bound
                # and avoids re-evaluating a size() capture per element
                F.slice(arr, i + F.lit(2), F.size(arr)),
                lambda y: F.array(x, y),
            ),
        )
    )


def basket_affinity(
    df: DataFrame, basket_col: str, item_col: str, min_support: int = 2
) -> DataFrame:
    """Market-basket co-occurrence: ``(item_a, item_b, n_ab, n_a, n_b,
    lift)`` for every unordered item pair appearing in at least
    ``min_support`` baskets, ordered by (item_a, item_b).

    Candidate pairs come from each basket's sorted item array
    (``array_pairs``, so ``item_a < item_b``) — bounded by basket-size
    choose 2, never a cross-catalog pairing, exploded map-side. Item
    frequencies are |items|-bounded and broadcast back; the basket
    total rides a one-row broadcast cross join. Lift is the
    integer-quantized exact ratio ``n_ab * n_baskets / (n_a * n_b)``
    — exact while ``n_ab * n_baskets <= 9.2e12`` (the BIGINT bound
    over the 1e6 quantizer; e.g. 15M baskets with pair support up to
    ~600k). Beyond that ANSI mode fails LOUDLY with an arithmetic
    overflow rather than silently wrapping; at that scale pre-scale
    the quantizer or the counts — any reordering of the products
    trades exactness for range, so the operator does not do it
    silently.
    The shared item subtree is deliberately recomputed per consumer:
    persisting it was measured wall-neutral with more jobs (CLAUDE.md).
    """
    items = df.select(
        F.col(basket_col).alias("__bk"), F.col(item_col).alias("__it")
    ).distinct()
    tot = items.agg(F.countDistinct("__bk").cast("long").alias("__n_baskets"))
    cnt = items.groupBy("__it").agg(F.count(F.lit(1)).cast("long").alias("__n"))
    # in-array pairs (r14): the former basket-keyed self-join shuffled
    # both sides and re-sorted per pass
    pairs = (
        items.groupBy("__bk")
        .agg(F.sort_array(F.collect_list("__it")).alias("__its"))
        .select(F.explode(array_pairs(F.col("__its"))).alias("__p"))
        .select(
            F.col("__p")[0].alias("item_a"), F.col("__p")[1].alias("item_b")
        )
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= min_support)
    )
    return (
        pairs.crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(cnt.select(F.col("__it").alias("__ka"), F.col("__n").alias("n_a"))),
            F.col("item_a") == F.col("__ka"),
        )
        .join(
            F.broadcast(cnt.select(F.col("__it").alias("__kb"), F.col("__n").alias("n_b"))),
            F.col("item_b") == F.col("__kb"),
        )
        .select(
            "item_a",
            "item_b",
            "n_ab",
            "n_a",
            "n_b",
            (F.expr("(n_ab * __n_baskets * 1000000) div (n_a * n_b)") / 1e6).alias("lift"),
        )
        .orderBy("item_a", "item_b")
    )


def bh_select(
    scored: DataFrame,
    *,
    p_col: str = "p_q",
    key_cols: Sequence[str] = ("key",),
    q_num: int = 1,
    q_den: int = 10,
) -> DataFrame:
    """Benjamini-Hochberg step-up FDR selection over integer-quantized
    p-values: rank ascending under the unique (p, keys) order, find the
    LARGEST rank k with ``p_(k) <= k * q / m`` (pure integer
    cross-multiplication — ``p_q * m * q_den <= rank * q_num * 1e9``),
    reject ranks 1..k.

    ``p_col`` holds nano-quantized p-values (1e9 means p = 1.0), the
    unit of the erfc-table consumers (bh_fdr_control); p-values in
    another unit must be rescaled to nano-units first, or the step-up
    inequality compares against the wrong unit and k* is silently
    wrong. With ``q_num``/``q_den`` that keeps the inequality
    integer-exact on both engines.

    Adds ``bh_rank``, ``bh_kstar`` and ``bh_rejected`` to the frame.
    The hypothesis count m is the frame's own row count (one window —
    the frame is hypothesis-bounded, never corpus-bounded, so the
    unpartitioned windows are fine at any corpus scale). The step-up
    scan is the window max of satisfying ranks: ranks past the largest
    satisfier are rejected only if <= k*, exactly Benjamini-Hochberg
    1995."""
    keys = [F.col(c) for c in key_cols]
    w = Window.orderBy(F.col(p_col).asc(), *keys)
    ranked = scored.select(
        "*",
        F.row_number().over(w).cast("long").alias("bh_rank"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("__m"),
    )
    sat = F.when(
        F.col(p_col) * F.col("__m") * q_den
        <= F.col("bh_rank") * q_num * F.lit(1_000_000_000),
        F.col("bh_rank"),
    )
    return (
        ranked.select(
            "*",
            F.coalesce(
                F.max(sat).over(Window.partitionBy()), F.lit(0)
            )
            .cast("long")
            .alias("bh_kstar"),
        )
        .withColumn("bh_rejected", F.col("bh_rank") <= F.col("bh_kstar"))
        .drop("__m")
    )
