"""Declared relational surface (SURVEY.md §2.B) as oracle-checked queries.

Each entry pairs a Spark DataFrame-API callable ``(spark, sf_dir) ->
DataFrame`` with the equivalent ANSI SQL the DuckDB oracle runs on the same
parquet tables. The reference delegates this whole surface through an
opaque SQL string (/root/reference/dask_snowflake/core.py:143); here it is
expressed Spark-first so Catalyst does pushdown / pruning / join selection.

Determinism rules (the driver hash-compares values):
- every computed column is aliased identically on both sides;
- floating aggregates are wrapped in round(x, N) on both sides so the
  oracle's different summation order cannot flip the hash;
- ordering keys are always made unique (ties broken by a key column) so
  limits and window functions are deterministic;
- timestamps in outputs are truncated/cast identically on both sides.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .session import registered_tables, release_caches, scratch_root


@dataclass
class QueryDef:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => non-SQL-expressible; driver does rows-only
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QueryDef] = {}


def query(name: str, oracle: str | None, tags: tuple[str, ...] = ()):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in _REGISTRY:
            # registry naming is LOAD-BEARING (the driver's priority
            # window is the alphabetical top-50): a silent overwrite
            # drops the shadowed query's coverage and can shift a
            # different query into the window — fail the day the
            # collision is introduced
            raise ValueError(f"duplicate query name {name!r} in the registry")
        _REGISTRY[name] = QueryDef(name, fn, oracle, tags)
        return fn

    return deco


def registry() -> dict[str, QueryDef]:
    # Import extension modules for their registration side effects.
    from . import ext_queries, udf_queries  # noqa: F401

    return dict(_REGISTRY)


def _t(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The star schema tables for `sf_dir`, from the session's one table
    memo (:func:`session.registered_tables`): registration reads 10
    parquet footers, so it runs once per session and dir, whether a
    query or the caller's own ``register_tables`` call did it first.
    Switching sf_dir within a session re-registers (the views rebind to
    the new dir).

    Also the per-query cache boundary: persisted intermediates the
    PREVIOUS query handed back inside its plan (tracked via
    session.track_cache) are released here, so a long-lived session
    sweeping the whole registry doesn't accumulate them."""
    release_caches()
    return registered_tables(spark, sf_dir)


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------


@query(
    "xfw_pricing_summary",
    """
    WITH e AS (
        SELECT l_returnflag, l_linestatus,
               CAST(round(l_quantity * 100) AS BIGINT)       AS qc,
               CAST(round(l_extendedprice * 100) AS BIGINT)  AS pc,
               100 - CAST(round(l_discount * 100) AS BIGINT) AS dk,
               100 + CAST(round(l_tax * 100) AS BIGINT)      AS tk
        FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
    ),
    g AS (
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT)           AS n,
               CAST(sum(qc) AS BIGINT)            AS sq,
               CAST(sum(pc) AS BIGINT)            AS sp,
               CAST(sum(pc * dk) AS BIGINT)       AS sd4,
               CAST(sum(pc * dk * tk) AS BIGINT)  AS sc6,
               CAST(sum(100 - dk) AS BIGINT)      AS sdisc
        FROM e GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus,
           sq / 1e2                                            AS sum_qty,
           sp / 1e2                                            AS sum_base_price,
           CAST((sd4 + 50) // 100 AS BIGINT) / 1e2             AS sum_disc_price,
           CAST((sc6 + 5000) // 10000 AS BIGINT) / 1e2         AS sum_charge,
           CAST((200 * sq + n) // (2 * n) AS BIGINT) / 1e4     AS avg_qty,
           CAST((200 * sp + n) // (2 * n) AS BIGINT) / 1e4     AS avg_price,
           CAST((200 * sdisc + n) // (2 * n) AS BIGINT) / 1e4  AS avg_disc,
           n                                                   AS count_order
    FROM g
    ORDER BY l_returnflag, l_linestatus
    """,
    ("aggregation",),
)
def xfw_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary per (returnflag, linestatus) as one map-side-combined hash
    aggregation. Exact: every aggregate sums integer cents (1e-4 and 1e-6 units) and rounds half-up
    by integer division, so no .xx5 boundary depends on summation order."""
    t = _t(spark, sf_dir)
    li = t["lineitem"]
    e = li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date")).select(
        "l_returnflag",
        "l_linestatus",
        F.expr("cast(round(l_quantity * 100) as bigint)").alias("qc"),
        F.expr("cast(round(l_extendedprice * 100) as bigint)").alias("pc"),
        F.expr("100 - cast(round(l_discount * 100) as bigint)").alias("dk"),
        F.expr("100 + cast(round(l_tax * 100) as bigint)").alias("tk"),
    )
    g = e.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("qc").cast("long").alias("sq"),
        F.sum("pc").cast("long").alias("sp"),
        F.sum(F.col("pc") * F.col("dk")).cast("long").alias("sd4"),
        # BIGINT headroom: pc*dk*tk is ~2e11 per row, so the sum fits past 1e7 rows per group; at
        # 100 TB sum DECIMAL(38,0) instead.
        F.sum(F.col("pc") * F.col("dk") * F.col("tk")).cast("long").alias("sc6"),
        F.sum(F.lit(100) - F.col("dk")).cast("long").alias("sdisc"),
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        (F.col("sq") / 1e2).alias("sum_qty"),
        (F.col("sp") / 1e2).alias("sum_base_price"),
        (F.expr("cast((sd4 + 50) div 100 as bigint)") / 1e2).alias("sum_disc_price"),
        (F.expr("cast((sc6 + 5000) div 10000 as bigint)") / 1e2).alias("sum_charge"),
        (F.expr("cast((200 * sq + n) div (2 * n) as bigint)") / 1e4).alias("avg_qty"),
        (F.expr("cast((200 * sp + n) div (2 * n) as bigint)") / 1e4).alias("avg_price"),
        (F.expr("cast((200 * sdisc + n) div (2 * n) as bigint)") / 1e4).alias(
            "avg_disc"
        ),
        F.col("n").alias("count_order"),
    ).orderBy("l_returnflag", "l_linestatus")


@query(
    "x11_revenue_forecast",
    """
    SELECT CAST((CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                          * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
                 + 50) // 100 AS BIGINT) / 1e2 AS revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1994-01-01'
      AND l_shipdate < DATE '1995-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    ("aggregation", "filter"),
)
def x11_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 selective filter + scalar revenue aggregate with predicates pushed to the scan.
    Exact: price*disc sums in integer 1e-4 units and rounds half-up by integer division."""
    t = _t(spark, sf_dir)
    li = t["lineitem"]
    e4 = F.expr(
        "cast(round(l_extendedprice * 100) as bigint)"
        " * cast(round(l_discount * 100) as bigint)"
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1995-01-01").cast("date"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(e4).cast("long").alias("__s4"))
        .select((F.expr("cast((__s4 + 50) div 100 as bigint)") / 1e2).alias("revenue"))
    )


@query(
    "xey_count_distinct",
    """
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_customers,
           count(*)                  AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    ("aggregation",),
)
def xey_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-distinct (expand-based distinct agg) alongside plain aggs."""
    t = _t(spark, sf_dir)
    return (
        t["orders"]
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "xfg_rollup_cube",
    """
    SELECT 'rollup' AS grouping_kind, l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'cube', l_returnflag, l_linestatus,
           round(sum(l_quantity), 2),
           count(*)
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY grouping_kind, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    ("aggregation",),
)
def xfg_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (hierarchical subtotals) and CUBE (all subtotal combinations) grouping sets."""
    t = _t(spark, sf_dir)
    aggs = (F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
    rolled = (
        t["lineitem"]
        .rollup("l_returnflag", "l_linestatus")
        .agg(*aggs)
        .select(F.lit("rollup").alias("grouping_kind"), "*")
    )
    cubed = (
        t["lineitem"]
        .cube("l_returnflag", "l_linestatus")
        .agg(*aggs)
        .select(F.lit("cube").alias("grouping_kind"), "*")
    )
    return rolled.unionByName(cubed).orderBy(
        "grouping_kind",
        F.col("l_returnflag").asc_nulls_first(),
        F.col("l_linestatus").asc_nulls_first(),
    )


@query(
    "xfl_percentile_collect",
    """
    SELECT l_returnflag,
           round(median(l_extendedprice), 4)                       AS median_price,
           round(quantile_cont(l_extendedprice, 0.25), 4)          AS p25_price,
           round(quantile_cont(l_extendedprice, 0.95), 4)          AS p95_price,
           round(min(l_extendedprice), 2)                          AS min_price,
           round(max(l_extendedprice), 2)                          AS max_price,
           array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
           count(*)                                                AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    ("aggregation",),
)
def xfl_percentile_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentile/median by distributed two-phase selection (operators.quantiles:
    bucket histogram, then candidate-bucket sort) plus a sort-canonicalized collect_set. Bounded
    per-task state, never an O(group) buffer."""
    from .operators.quantiles import exact_group_quantiles

    t = _t(spark, sf_dir)
    li = t["lineitem"]
    # exact quantiles WITHOUT Spark's percentile() agg: that buffers
    # every group value in one reducer's state (the engine's one
    # genuine scale ceiling at 100 TB); the two-phase selection keeps
    # per-task state at O(buckets) + O(candidate bucket)
    q = exact_group_quantiles(
        li, ["l_returnflag"], "l_extendedprice", [0.5, 0.25, 0.95]
    )
    rest = li.groupBy("l_returnflag").agg(
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.array_join(F.sort_array(F.collect_set("l_linestatus")), ",").alias("statuses"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        q.join(rest, "l_returnflag")
        .select(
            "l_returnflag",
            F.round(F.col("quantiles")[0], 4).alias("median_price"),
            F.round(F.col("quantiles")[1], 4).alias("p25_price"),
            F.round(F.col("quantiles")[2], 4).alias("p95_price"),
            "min_price",
            "max_price",
            "statuses",
            "n",
        )
        .orderBy("l_returnflag")
    )


@query(
    "x16_collect_nations",
    """
    SELECT n_regionkey,
           array_to_string(list_sort(list(DISTINCT n_name)), ',') AS nations,
           count(*) AS n
    FROM nation
    GROUP BY n_regionkey
    ORDER BY n_regionkey
    """,
    ("aggregation",),
)
def x16_collect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set aggregation canonicalized by sort (list order is nondeterministic otherwise)."""
    t = _t(spark, sf_dir)
    return (
        t["nation"]
        .groupBy("n_regionkey")
        .agg(
            F.array_join(F.sort_array(F.collect_set("n_name")), ",").alias("nations"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("n_regionkey")
    )


# ---------------------------------------------------------------------------
# Filters / projection
# ---------------------------------------------------------------------------


@query(
    "xel_filter_predicates",
    """
    SELECT o_orderkey, o_orderstatus, o_orderpriority, round(o_totalprice, 2) AS total
    FROM orders
    WHERE o_orderstatus IN ('O', 'F')
      AND o_totalprice BETWEEN 1000 AND 150000
      AND o_orderpriority LIKE '1-%'
      AND o_orderdate IS NOT NULL
      AND (o_custkey % 2 = 0 OR o_totalprice > 100000)
    ORDER BY o_orderkey
    """,
    ("filter",),
)
def xel_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicates: IN / BETWEEN / LIKE / IS NULL / boolean logic, pushed to the scan."""
    t = _t(spark, sf_dir)
    o = t["orders"]
    return (
        o.filter(
            F.col("o_orderstatus").isin("O", "F")
            & F.col("o_totalprice").between(1000, 150000)
            & F.col("o_orderpriority").like("1-%")
            & F.col("o_orderdate").isNotNull()
            & ((F.col("o_custkey") % 2 == 0) | (F.col("o_totalprice") > 100000))
        )
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_orderpriority",
            F.round("o_totalprice", 2).alias("total"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "xem_projection_expr",
    """
    SELECT p_partkey,
           upper(p_brand)                                   AS brand_uc,
           p_size * 2 + 1                                   AS size_expr,
           CAST(round(p_retailprice * 100) AS BIGINT) * 11 / 1000.0 AS marked_up,
           CASE WHEN p_size > 25 THEN 'large'
                WHEN p_size > 10 THEN 'medium'
                ELSE 'small' END                            AS size_class
    FROM part
    ORDER BY p_partkey
    """,
    ("projection",),
)
def xem_projection_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection with scalar expressions, CASE WHEN, arithmetic."""
    t = _t(spark, sf_dir)
    return (
        t["part"]
        .select(
            "p_partkey",
            F.upper("p_brand").alias("brand_uc"),
            (F.col("p_size") * 2 + 1).alias("size_expr"),
            # integer mills: cents (exact for the 2dp source) * 11 is an
            # exact BIGINT and /1000.0 the identical double on both
            # engines. round(price * 1.1, 2) rounded a 3-true-decimal
            # product at 2dp: at sf>=1 TPC-H prices hit repr-exact
            # halfway values (2048.95 * 1.1 = 2253.845) where Spark's
            # repr-based HALF_UP says .85 and DuckDB's binary round .84
            (F.expr("cast(round(p_retailprice * 100) as bigint) * 11") / 1000.0).alias(
                "marked_up"
            ),
            F.when(F.col("p_size") > 25, "large")
            .when(F.col("p_size") > 10, "medium")
            .otherwise("small")
            .alias("size_class"),
        )
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@query(
    "xfx_star_join_revenue",
    """
    SELECT n_name,
           CAST((CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
                 + 50) // 100 AS BIGINT) / 1e2 AS revenue,
           count(*) AS n_lineitems
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey   = c_custkey
    JOIN lineitem ON l_orderkey  = o_orderkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    ("join", "aggregation"),
)
def xfx_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 five-way star join: small dims broadcast, the fact table shuffles on keys. Exact:
    revenue sums integer 1e-4 units (cents * (100 - disc_pct)) and rounds half-up by integer
    division."""
    t = _t(spark, sf_dir)
    # region/nation are constant-size (5/25 rows at every SF): always
    # broadcast. customer is SF-proportional: let Catalyst/AQE decide.
    e4 = F.expr(
        "cast(round(l_extendedprice * 100) as bigint)"
        " * (100 - cast(round(l_discount * 100) as bigint))"
    )
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            F.sum(e4).cast("long").alias("__s4"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .select(
            "n_name",
            (F.expr("cast((__s4 + 50) div 100 as bigint)") / 1e2).alias("revenue"),
            "n_lineitems",
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@query(
    "xf9_semi_anti_join",
    """
    SELECT 'semi' AS side, o_orderkey AS key, o_orderstatus AS label
    FROM orders
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_quantity > 45
    )
    UNION ALL
    SELECT 'anti', c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 350000)
    ORDER BY side, key
    """,
    ("join",),
)
def xf9_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS, no row multiplication) and left-anti join (NOT EXISTS) as a tagged
    union."""
    t = _t(spark, sf_dir)
    big_items = t["lineitem"].filter(F.col("l_quantity") > 45)
    semi = (
        t["orders"]
        .join(big_items, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .select(
            F.lit("semi").alias("side"),
            F.col("o_orderkey").alias("key"),
            F.col("o_orderstatus").alias("label"),
        )
    )
    big_orders = t["orders"].filter(F.col("o_totalprice") > 350000)
    anti = (
        t["customer"]
        .join(big_orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select(
            F.lit("anti").alias("side"),
            F.col("c_custkey").alias("key"),
            F.col("c_name").alias("label"),
        )
    )
    return semi.unionByName(anti).orderBy("side", "key")


@query(
    "xfk_outer_join_agg",
    """
    SELECT c_custkey,
           count(o_orderkey)                       AS n_orders,
           round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
    FROM customer
    LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    ORDER BY c_custkey
    """,
    ("join", "aggregation"),
)
def xfk_outer_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving unmatched rows + null-tolerant aggregation."""
    t = _t(spark, sf_dir)
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
        .orderBy("c_custkey")
    )


@query(
    "xcz_full_outer",
    """
    SELECT k, has_customer, has_supplier
    FROM (
        SELECT coalesce(c.k, s.k) AS k,
               c.k IS NOT NULL     AS has_customer,
               s.k IS NOT NULL     AS has_supplier
        FROM      (SELECT DISTINCT c_nationkey % 40 AS k FROM customer) c
        FULL JOIN (SELECT DISTINCT s_suppkey  % 40 AS k FROM supplier) s
               ON c.k = s.k
    )
    ORDER BY k
    """,
    ("join",),
)
def xcz_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with unmatched sides on both ends."""
    t = _t(spark, sf_dir)
    c = t["customer"].select((F.col("c_nationkey") % 40).alias("k")).distinct().alias("c")
    s = t["supplier"].select((F.col("s_suppkey") % 40).alias("k")).distinct().alias("s")
    return (
        c.join(s, F.col("c.k") == F.col("s.k"), "full")
        .select(
            F.coalesce(F.col("c.k"), F.col("s.k")).alias("k"),
            F.col("c.k").isNotNull().alias("has_customer"),
            F.col("s.k").isNotNull().alias("has_supplier"),
        )
        .orderBy("k")
    )


@query(
    "xfa_range_join",
    """
    SELECT o_orderkey, buckets.name AS price_bucket
    FROM orders
    JOIN (
        VALUES ('low', 0.0, 50000.0), ('mid', 50000.0, 150000.0), ('high', 150000.0, 1e18)
    ) AS buckets(name, lo, hi)
      ON o_totalprice >= buckets.lo AND o_totalprice < buckets.hi
    ORDER BY o_orderkey
    """,
    ("join",),
)
def xfa_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (non-equi range) join against a broadcast bucket table."""
    t = _t(spark, sf_dir)
    buckets = spark.createDataFrame(
        [("low", 0.0, 50000.0), ("mid", 50000.0, 150000.0), ("high", 150000.0, 1e18)],
        "name string, lo double, hi double",
    )
    # Non-equi joins can't hash-partition; broadcasting the tiny bucket
    # table makes this a broadcast-nested-loop — the only scalable shape.
    return (
        t["orders"]
        .join(
            F.broadcast(buckets),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .select("o_orderkey", F.col("name").alias("price_bucket"))
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@query(
    "xez_window_rank",
    """
    SELECT * FROM (
        SELECT c_nationkey, c_custkey, round(c_acctbal, 2) AS acctbal,
               row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn,
               rank()       OVER (PARTITION BY c_nationkey ORDER BY round(c_acctbal, 2) DESC)  AS rnk,
               dense_rank() OVER (PARTITION BY c_nationkey ORDER BY round(c_acctbal, 2) DESC)  AS drnk,
               ntile(4)     OVER (PARTITION BY c_nationkey ORDER BY round(c_acctbal, 2), c_custkey) AS quartile,
               round(cume_dist()    OVER (PARTITION BY c_nationkey ORDER BY round(c_acctbal, 2)), 6) AS cd,
               round(percent_rank() OVER (PARTITION BY c_nationkey ORDER BY round(c_acctbal, 2)), 6) AS pr
        FROM customer
    ) WHERE rn <= 3
    ORDER BY c_nationkey, rn
    """,
    ("window",),
)
def xez_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking + distribution windows (row_number/rank/dense_rank/ntile/cume_dist/percent_rank) +
    top-k per group (row_number filter)."""
    t = _t(spark, sf_dir)
    w = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    # rank/dense_rank/cume_dist over the rounded value so float-equality
    # ties agree with the oracle bit-for-bit; ntile order tie-broken by
    # key so bucket assignment is deterministic.
    acct = F.round("c_acctbal", 2)
    wr = W.partitionBy("c_nationkey").orderBy(acct.desc())
    wa = W.partitionBy("c_nationkey").orderBy(acct)
    wn = W.partitionBy("c_nationkey").orderBy(acct, F.col("c_custkey"))
    return (
        t["customer"]
        .select(
            "c_nationkey",
            "c_custkey",
            acct.alias("acctbal"),
            F.row_number().over(w).alias("rn"),
            F.rank().over(wr).alias("rnk"),
            F.dense_rank().over(wr).alias("drnk"),
            F.ntile(4).over(wn).alias("quartile"),
            F.round(F.cume_dist().over(wa), 6).alias("cd"),
            F.round(F.percent_rank().over(wa), 6).alias("pr"),
        )
        .filter(F.col("rn") <= 3)
        .orderBy("c_nationkey", "rn")
    )


@query(
    "xf0_window_analytic",
    """
    SELECT o_custkey, o_orderkey, o_orderdate,
           lag(o_orderkey)  OVER w AS prev_order,
           lead(o_orderkey) OVER w AS next_order,
           first_value(o_orderkey) OVER w AS first_order,
           datediff('day', lag(o_orderdate) OVER w, o_orderdate) AS days_since_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
    ("window",),
)
def xf0_window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic windows: lag/lead/first_value with deterministic tie-broken ordering."""
    t = _t(spark, sf_dir)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        t["orders"]
        .select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.lag("o_orderkey").over(w).alias("prev_order"),
            F.lead("o_orderkey").over(w).alias("next_order"),
            F.first("o_orderkey").over(w).alias("first_order"),
            F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).alias(
                "days_since_prev"
            ),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


@query(
    "xf1_window_running",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
           count(*) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)     AS running_n,
           count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) AS orders_30d,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW), 2) AS spend_30d
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
    ("window",),
)
def xf1_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running ROWS-frame aggregates (cumulative sum/count) + RANGE frame over a time axis
    (trailing 30-day aggregates)."""
    t = _t(spark, sf_dir)
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # rangeBetween with calendar intervals needs the SQL expression form;
    # the DataFrame API only takes numeric offsets.
    range_30d = (
        "OVER (PARTITION BY o_custkey ORDER BY o_orderdate "
        "RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)"
    )
    return (
        t["orders"]
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
            F.count(F.lit(1)).over(w).alias("running_n"),
            F.expr(f"count(*) {range_30d}").alias("orders_30d"),
            F.expr(f"round(sum(o_totalprice) {range_30d}, 2)").alias("spend_30d"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Sort / limit / set ops
# ---------------------------------------------------------------------------


@query(
    "xew_topk",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS total
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
    ("sort",),
)
def xew_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark runs TakeOrderedAndProject (per-partition heap, no full sort)."""
    t = _t(spark, sf_dir)
    return (
        t["orders"]
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(25)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
    )


@query(
    "xcy_set_ops",
    """
    WITH c AS (SELECT c_nationkey AS k FROM customer),
         s AS (SELECT s_nationkey AS k FROM supplier)
    SELECT 'union_all' AS op, count(*) AS n FROM (SELECT k FROM c UNION ALL SELECT k FROM s)
    UNION ALL
    SELECT 'union_distinct', count(*) FROM (SELECT k FROM c UNION SELECT k FROM s)
    UNION ALL
    SELECT 'intersect', count(*) FROM (SELECT DISTINCT k FROM c INTERSECT SELECT DISTINCT k FROM s)
    UNION ALL
    SELECT 'except', count(*) FROM (SELECT DISTINCT k FROM c EXCEPT SELECT DISTINCT k FROM s)
    ORDER BY op
    """,
    ("setops",),
)
def xcy_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: union all / union distinct / intersect / except."""
    t = _t(spark, sf_dir)
    c = t["customer"].select(F.col("c_nationkey").alias("k"))
    s = t["supplier"].select(F.col("s_nationkey").alias("k"))

    # ONE declarative plan (four agg subtrees unioned) instead of four
    # sequential driver-side count() actions — subtrees execute inside
    # a single job graph and nothing but the final 4 rows moves
    def tagged(op: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(op).alias("op"), "n")

    return (
        tagged("union_all", c.unionAll(s))
        .unionByName(tagged("union_distinct", c.union(s).distinct()))
        .unionByName(tagged("intersect", c.distinct().intersect(s.distinct())))
        .unionByName(tagged("except", c.distinct().exceptAll(s.distinct())))
        .orderBy("op")
    )


# ---------------------------------------------------------------------------
# Scalar function families
# ---------------------------------------------------------------------------


@query(
    "xf2_string_funcs",
    """
    SELECT p_partkey,
           concat(p_brand, ':', p_type)                        AS brand_type,
           substr(p_name, 1, 8)                                AS name_prefix,
           length(p_name)                                      AS name_len,
           trim(upper(p_brand))                                AS brand_uc,
           lower(p_type)                                       AS type_lc,
           regexp_replace(p_name, '[aeiou]', '_', 'g')         AS devoweled,
           regexp_extract(p_type, '^([A-Z]+)', 1)              AS type_head,
           array_to_string(str_split(p_name, ' '), '|')        AS name_words,
           levenshtein(p_brand, 'Brand#11')                    AS brand_dist
    FROM part
    ORDER BY p_partkey
    """,
    ("functions",),
)
def xf2_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function family: concat/substr/length/trim/case/regexp/split/levenshtein."""
    t = _t(spark, sf_dir)
    return (
        t["part"]
        .select(
            "p_partkey",
            # concat_ws('', a, ':', b), NOT concat_ws(':', a, b): the
            # oracle's concat() skips NULLs but keeps the ':' literal
            # ('Brand#13:' for NULL p_type) — the separator form would
            # drop the colon with the NULL, and F.concat would go NULL
            F.concat_ws("", F.col("p_brand"), F.lit(":"), F.col("p_type")).alias(
                "brand_type"
            ),
            F.substring("p_name", 1, 8).alias("name_prefix"),
            F.length("p_name").alias("name_len"),
            F.trim(F.upper("p_brand")).alias("brand_uc"),
            F.lower("p_type").alias("type_lc"),
            F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
            F.regexp_extract("p_type", "^([A-Z]+)", 1).alias("type_head"),
            F.array_join(F.split("p_name", " "), "|").alias("name_words"),
            F.levenshtein("p_brand", F.lit("Brand#11")).alias("brand_dist"),
        )
        .orderBy("p_partkey")
    )


@query(
    "xfm_datetime_funcs",
    """
    SELECT o_orderkey,
           CAST(date_trunc('month', o_orderdate) AS DATE)  AS order_month,
           EXTRACT(year  FROM o_orderdate)::BIGINT         AS yr,
           EXTRACT(month FROM o_orderdate)::BIGINT         AS mo,
           EXTRACT(day   FROM o_orderdate)::BIGINT         AS dy,
           EXTRACT(quarter FROM o_orderdate)::BIGINT       AS qtr,
           datediff('day', o_orderdate, DATE '1998-12-31') AS days_to_end,
           CAST(o_orderdate + INTERVAL 3 MONTH AS DATE)    AS plus3mo,
           strftime(o_orderdate, '%Y-%m-%d')               AS iso_day,
           last_day(CAST(o_orderdate AS DATE))             AS month_end,
           CAST(date_trunc('week', o_orderdate) AS DATE)   AS week_start,
           CAST(o_orderdate AS DATE) + 7                   AS plus_week,
           CAST(o_orderdate AS DATE) - 30                  AS minus_month,
           (dayofweek(o_orderdate) + 1)::BIGINT            AS dow,
           weekofyear(o_orderdate)::BIGINT                 AS woy
    FROM orders
    ORDER BY o_orderkey
    """,
    ("functions",),
)
def xfm_datetime_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function family: trunc/extract/diff/add_months/format/last_day/week boundaries/day
    offsets/dow/iso week."""
    t = _t(spark, sf_dir)
    d = F.col("o_orderdate").cast("date")
    return (
        t["orders"]
        .select(
            "o_orderkey",
            F.date_trunc("month", "o_orderdate").cast("date").alias("order_month"),
            F.year("o_orderdate").cast("long").alias("yr"),
            F.month("o_orderdate").cast("long").alias("mo"),
            F.dayofmonth("o_orderdate").cast("long").alias("dy"),
            F.quarter("o_orderdate").cast("long").alias("qtr"),
            F.datediff(F.lit("1998-12-31").cast("date"), F.col("o_orderdate")).alias(
                "days_to_end"
            ),
            F.add_months("o_orderdate", 3).alias("plus3mo"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso_day"),
            F.last_day(d).alias("month_end"),
            F.date_trunc("week", "o_orderdate").cast("date").alias("week_start"),
            F.date_add(d, 7).alias("plus_week"),
            F.date_sub(d, 30).alias("minus_month"),
            F.dayofweek("o_orderdate").cast("long").alias("dow"),
            F.weekofyear("o_orderdate").cast("long").alias("woy"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "x48_math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice, 0)               AS price_rounded,
           abs(l_discount - 0.05)                  AS disc_dev,
           ceil(l_quantity)::BIGINT                AS qty_ceil,
           floor(l_quantity)::BIGINT               AS qty_floor,
           round(ln(l_extendedprice), 6)           AS log_price,
           round(exp(l_discount), 6)               AS exp_disc,
           round(pow(l_quantity, 2), 2)            AS qty_sq,
           round(sqrt(l_extendedprice), 6)         AS sqrt_price,
           CAST(l_quantity AS BIGINT) % 7          AS qty_mod
    FROM lineitem
    WHERE l_orderkey < 1000
    ORDER BY l_orderkey, l_linenumber
    """,
    ("functions",),
)
def x48_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function family: round/abs/ceil/floor/ln/exp/pow/sqrt/mod."""
    t = _t(spark, sf_dir)
    return (
        t["lineitem"]
        .filter(F.col("l_orderkey") < 1000)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 0).alias("price_rounded"),
            F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
            F.ceil("l_quantity").alias("qty_ceil"),
            F.floor("l_quantity").alias("qty_floor"),
            F.round(F.log("l_extendedprice"), 6).alias("log_price"),
            F.round(F.exp("l_discount"), 6).alias("exp_disc"),
            F.round(F.pow("l_quantity", F.lit(2)), 2).alias("qty_sq"),
            F.round(F.sqrt("l_extendedprice"), 6).alias("sqrt_price"),
            (F.col("l_quantity").cast("long") % 7).alias("qty_mod"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "xfh_null_cast",
    """
    SELECT o_orderkey,
           coalesce(nullif(o_orderstatus, 'P'), 'PENDING')  AS status_norm,
           CASE WHEN o_totalprice > 100000 THEN o_totalprice END IS NULL AS small_order,
           round(coalesce(CASE WHEN o_totalprice > 100000 THEN o_totalprice END, 0.0), 2) AS big_or_zero,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS price_dec,
           CAST(o_orderkey AS VARCHAR)                      AS key_str,
           round(coalesce(CASE WHEN o_totalprice > 100000 THEN o_totalprice END, -1.0), 2) AS big_or_filled
    FROM orders
    ORDER BY o_orderkey
    """,
    ("functions",),
)
def xfh_null_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast / null handling: cast to decimal+string, coalesce, nullif, CASE-produced nulls, na.fill
    over a produced null."""
    t = _t(spark, sf_dir)
    big = F.when(F.col("o_totalprice") > 100000, F.col("o_totalprice"))
    out = (
        t["orders"]
        .select(
            "o_orderkey",
            F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING")).alias(
                "status_norm"
            ),
            big.isNull().alias("small_order"),
            F.round(F.coalesce(big, F.lit(0.0)), 2).alias("big_or_zero"),
            # decimal cast exercised, then stringified: raw DECIMAL output
            # canonicalizes differently across engines' Arrow conversions
            # (Decimal('123.40') vs float 123.4), so the driver-facing value
            # is the scale-2 string '123.40' — identical on both sides.
            F.col("o_totalprice").cast("decimal(18,2)").cast("string").alias("price_dec"),
            F.col("o_orderkey").cast("string").alias("key_str"),
            F.round(big, 2).alias("big_or_filled"),
        )
    )
    # df.na.fill on the CASE-produced null column (the DataFrame-native
    # fill path, vs the coalesce expression above)
    return out.na.fill({"big_or_filled": -1.0}).orderBy("o_orderkey")


@query(
    "xfi_json_semistructured",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 7 AS k_mod,
           event_type
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
    ORDER BY event_id
    """,
    ("functions", "json"),
)
def xfi_json_semistructured(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access: string-path extraction (get_json_object) AND from_json with an
    explicit schema -> typed struct field access."""
    t = _t(spark, sf_dir)
    # both access paths: string-path extraction for the filter, schema'd
    # from_json struct for the typed projection
    k = F.get_json_object("props", "$.k").cast("long")
    parsed = t["events"].withColumn("p", F.from_json("props", "k bigint"))
    return (
        parsed.select(
            "event_id",
            k.alias("k_val"),
            (F.col("p.k") % 7).alias("k_mod"),
            "event_type",
        )
        .filter(F.col("k_val") > 50)
        .orderBy("event_id")
    )


@query(
    "xfn_array_map_hof",
    """
    SELECT vec_id,
           len(embedding)                                              AS dim,
           round(list_sum(list_transform(embedding, x -> x::DOUBLE)), 4) AS vec_sum,
           round(list_aggregate(embedding, 'max')::DOUBLE, 4)          AS vec_max,
           round(embedding[1]::DOUBLE, 4) + 0.0                        AS first_elem,
           len(list_filter(embedding, x -> x > 0))                     AS n_positive,
           array_to_string(map_keys(MAP {'dim': len(embedding), 'pos': len(list_filter(embedding, x -> x > 0))}), ',') AS stat_keys,
           list_sum(map_values(MAP {'dim': len(embedding), 'pos': len(list_filter(embedding, x -> x > 0))}))::BIGINT AS stat_total,
           element_at(MAP {'dim': len(embedding), 'pos': len(list_filter(embedding, x -> x > 0))}, 'pos')[1]::BIGINT AS pos_via_map
    FROM embeddings
    ORDER BY vec_id
    """,
    ("functions", "array", "map"),
)
def xfn_array_map_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions (size/aggregate/element/filter lambdas) + map construction,
    map_keys/map_values aggregation, element_at."""
    t = _t(spark, sf_dir)
    emb = F.col("embedding")
    n_positive = F.size(F.filter(emb, lambda x: x > 0))
    m = F.create_map(F.lit("dim"), F.size(emb).cast("long"), F.lit("pos"), n_positive.cast("long"))
    return (
        t["embeddings"]
        .select(
            "vec_id",
            F.size(emb).alias("dim"),
            # double-precision sequential accumulation — bit-identical to
            # the oracle's list_sum over a DOUBLE-cast list
            F.round(
                F.aggregate(emb, F.lit(0.0), lambda a, x: a + x.cast("double")), 4
            ).alias("vec_sum"),
            F.round(F.array_max(emb).cast("double"), 4).alias("vec_max"),
            (F.round(emb.getItem(0).cast("double"), 4) + F.lit(0.0)).alias("first_elem"),
            n_positive.alias("n_positive"),
            F.array_join(F.map_keys(m), ",").alias("stat_keys"),
            F.aggregate(
                F.map_values(m), F.lit(0).cast("long"), lambda a, x: a + x
            ).alias("stat_total"),
            # element_at(map, k) returns a LIST in DuckDB — hence the [1]
            # on the oracle side; Spark returns the scalar directly
            F.element_at(m, F.lit("pos")).alias("pos_via_map"),
        )
        .orderBy("vec_id")
    )


@query(
    "x17_explode_unnest",
    """
    SELECT word, count(*) AS n
    FROM (
        SELECT unnest(str_split(lower(p_name), ' ')) AS word
        FROM part
    )
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 50
    """,
    ("functions", "array"),
)
def x17_explode_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode/unnest an array column then re-aggregate (word counts)."""
    t = _t(spark, sf_dir)
    return (
        t["part"]
        .select(F.explode(F.split(F.lower("p_name"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(50)
    )


@query(
    "x02_pivot",
    """
    SELECT l_returnflag,
           round(coalesce(sum(l_quantity) FILTER (l_linestatus = 'O'), 0), 2) AS qty_O,
           round(coalesce(sum(l_quantity) FILTER (l_linestatus = 'F'), 0), 2) AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    ("aggregation",),
)
def x02_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: linestatus columns out of rows (conditional aggregation)."""
    t = _t(spark, sf_dir)
    piv = (
        t["lineitem"]
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.coalesce(F.sum("l_quantity"), F.lit(0.0)), 2))
    )
    return piv.select(
        "l_returnflag",
        F.coalesce(F.col("O"), F.lit(0.0)).alias("qty_O"),
        F.coalesce(F.col("F"), F.lit(0.0)).alias("qty_F"),
    ).orderBy("l_returnflag")


@query(
    "x10_distinct_projection",
    """
    SELECT DISTINCT o_orderstatus, o_orderpriority
    FROM orders
    ORDER BY o_orderstatus, o_orderpriority
    """,
    ("projection",),
)
def x10_distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates on a projection."""
    t = _t(spark, sf_dir)
    return (
        t["orders"]
        .select("o_orderstatus", "o_orderpriority")
        .dropDuplicates()
        .orderBy("o_orderstatus", "o_orderpriority")
    )


@query(
    "x06_correlated_scalar",
    """
    SELECT c_custkey, round(c_acctbal, 2) AS acctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
    ORDER BY c_custkey
    """,
    ("filter", "subquery"),
)
def x06_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in predicate (uncorrelated aggregate subquery)."""
    t = _t(spark, sf_dir)
    t["customer"].createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_custkey, round(c_acctbal, 2) AS acctbal
        FROM customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        ORDER BY c_custkey
        """
    )


# ---------------------------------------------------------------------------
# Additional relational coverage
# ---------------------------------------------------------------------------


@query(
    "x08_having",
    """
    -- integer cents: the float-sum threshold could flip a group on an
    -- agg-order ulp straddle of the 200000 literal; the cents sum is
    -- exact and order-independent on both engines
    SELECT o_custkey, count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 5 AND sum(CAST(round(o_totalprice * 100) AS BIGINT)) > 20000000
    ORDER BY o_custkey
    """,
    ("aggregation", "filter"),
)
def x08_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation HAVING filter."""
    t = _t(spark, sf_dir)
    return (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.expr("cast(round(o_totalprice * 100) as bigint)")).alias("__cents"),
        )
        .filter((F.col("n_orders") >= 5) & (F.col("__cents") > 20000000))
        .select("o_custkey", "n_orders", (F.col("__cents") / 100.0).alias("total"))
        .orderBy("o_custkey")
    )


@query(
    "x07_in_subquery",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_nationkey IN (
        SELECT n_nationkey FROM nation WHERE n_regionkey IN
            (SELECT r_regionkey FROM region WHERE r_name IN ('ASIA', 'EUROPE'))
    )
    ORDER BY s_suppkey
    """,
    ("filter", "subquery"),
)
def x07_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested IN subqueries (rewritten to semi-joins by Catalyst)."""
    t = _t(spark, sf_dir)
    for name in ("supplier", "nation", "region"):
        t[name].createOrReplaceTempView(name)
    return spark.sql(
        """
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_nationkey IN (
            SELECT n_nationkey FROM nation WHERE n_regionkey IN
                (SELECT r_regionkey FROM region WHERE r_name IN ('ASIA', 'EUROPE'))
        )
        ORDER BY s_suppkey
        """
    )


@query(
    "x04_approx_sketches",
    None,  # approximate by design: rows-only check
    ("aggregation", "approx"),
)
def x04_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state sketches next to an exact countDistinct: HLL++ approx_count_distinct and a
    percentile_approx median per returnflag. No exact oracle by design."""
    t = _t(spark, sf_dir)
    li = t["lineitem"]
    # the exact countDistinct runs in its OWN aggregation: mixed
    # distinct + sketch aggregates compile to an Expand plan that
    # replicates every row under the HLL/quantile sketches (measured
    # 3.35 s combined vs 0.3 s each separate at sf0.1 — the join of
    # two 5-row aggregates is free)
    sketches = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(1000)).alias(
            "approx_median_price"
        ),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts")
    )
    return sketches.join(exact, "l_returnflag").orderBy("l_returnflag")


def _scratch_dir(name: str, sf_dir: str | None = None) -> str:
    """Deterministic per-query scratch path (bounded growth — sinks use
    mode('overwrite'); uuid paths would accumulate because the returned
    DataFrame lazily references the written files). When ``sf_dir`` is
    given the path is namespaced by it (still bounded: one dir per
    (query, fixture)), so CONCURRENT sessions running different
    fixtures never clobber each other's read-back files — an r10
    tri-SF parallel sweep raced three sessions on one q38_parquet dir
    (writer A overwrote the part files reader B's plan had already
    listed -> FILE_NOT_EXIST). Same-fixture concurrent sessions remain
    unsupported for the file-sink queries, as for the bucketed-table
    family (x99 namespaces per application instead and GC-probes)."""
    base = scratch_root()
    if sf_dir is not None:
        import hashlib as _hashlib
        import re as _re

        # abspath-normalize then suffix a short path hash: the bare
        # slug maps '_' and '/' to the same '-', so distinct fixture
        # dirs (or relative vs absolute spellings of ONE dir) could
        # collide/split the namespace (r11 ADVICE) — the hash makes the
        # mapping injective while the slug keeps paths readable.
        apath = os.path.abspath(sf_dir)
        slug = _re.sub(r"[^A-Za-z0-9.]+", "-", apath).strip("-")
        digest = _hashlib.md5(apath.encode()).hexdigest()[:8]
        name = f"{name}-{slug}-{digest}"
    return os.path.join(base, name)


@query(
    "xa1_file_csv_json_roundtrip",
    """
    SELECT 'csv' AS fmt, o_orderstatus AS grp, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY o_orderstatus
    UNION ALL
    SELECT 'json', event_type, count(*), round(sum(value), 2)
    FROM events
    GROUP BY event_type
    ORDER BY fmt, grp
    """,
    ("source", "sink"),
)
def xa1_file_csv_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV and JSON-lines sink + source roundtrips: write, read back with explicit schema,
    aggregate — tagged union of both formats."""
    t = _t(spark, sf_dir)
    csv_path = _scratch_dir("file_rt_csv", sf_dir)
    t["orders"].select("o_orderkey", "o_orderstatus", "o_totalprice").write.mode(
        "overwrite"
    ).option("header", True).csv(csv_path)
    csv_back = spark.read.schema(
        "o_orderkey long, o_orderstatus string, o_totalprice double"
    ).option("header", True).csv(csv_path)
    csv_agg = (
        csv_back.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .select(F.lit("csv").alias("fmt"), F.col("o_orderstatus").alias("grp"), "n", "total")
    )

    json_path = _scratch_dir("file_rt_json", sf_dir)
    # reuse the session-memoized registry view (one footer read per
    # session) instead of a second load_table code path
    ev = t["events"].select("event_id", "event_type", "value")
    ev.write.mode("overwrite").json(json_path)
    json_back = spark.read.schema("event_id long, event_type string, value double").json(
        json_path
    )
    json_agg = (
        json_back.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(F.lit("json").alias("fmt"), F.col("event_type").alias("grp"), "n", "total")
    )
    return csv_agg.unionByName(json_agg).orderBy("fmt", "grp")


@query(
    "xfj_file_parquet_sink",
    """
    SELECT l_returnflag, count(*) AS n
    FROM lineitem
    WHERE l_returnflag IN ('A', 'R')
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    ("source", "sink"),
)
def xfj_file_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink + partition-pruned scan (only 2 of 3 partitions read back)."""
    t = _t(spark, sf_dir)
    path = _scratch_dir("q38_parquet", sf_dir)
    t["lineitem"].select("l_orderkey", "l_returnflag").write.mode("overwrite").partitionBy(
        "l_returnflag"
    ).parquet(path)
    back = spark.read.parquet(path).filter(F.col("l_returnflag").isin("A", "R"))
    return (
        back.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")).orderBy("l_returnflag")
    )


@query(
    "x12_large_orders",
    """
    SELECT c_custkey, c_name, o_orderkey, round(o_totalprice, 2) AS total, round(qty, 2) AS qty
    FROM (
        SELECT l_orderkey, sum(l_quantity) AS qty FROM lineitem GROUP BY l_orderkey
        HAVING sum(l_quantity) > 150
    ) big
    JOIN orders   ON o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_orderkey
    """,
    ("join", "aggregation"),
)
def x12_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate-then-join with HAVING pre-filter."""
    t = _t(spark, sf_dir)
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 150)
    )
    return (
        big.join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
            F.round("qty", 2).alias("qty"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "x13_inactive_customers",
    """
    SELECT substr(c_name, 1, 9) AS name_prefix, count(*) AS n_custs,
           round(sum(c_acctbal), 2) AS total_bal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) * 0.5 FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 350000)
    GROUP BY substr(c_name, 1, 9)
    ORDER BY name_prefix
    """,
    ("join", "subquery", "aggregation"),
)
def x13_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar avg subquery + NOT EXISTS anti-join + re-aggregation."""
    t = _t(spark, sf_dir)
    for name in ("customer", "orders"):
        t[name].createOrReplaceTempView(name)
    return spark.sql(
        """
        SELECT substr(c_name, 1, 9) AS name_prefix, count(*) AS n_custs,
               round(sum(c_acctbal), 2) AS total_bal
        FROM customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) * 0.5 FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 350000)
        GROUP BY substr(c_name, 1, 9)
        ORDER BY name_prefix
        """
    )


@query(
    "x09_correlated_min",
    """
    SELECT p_partkey, p_brand, round(p_retailprice, 2) AS price
    FROM part p
    WHERE p_retailprice = (
        SELECT min(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand
    )
    ORDER BY p_partkey
    """,
    ("subquery", "join"),
)
def x09_correlated_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated scalar min subquery (decorrelated to an aggregate join by
    Catalyst)."""
    t = _t(spark, sf_dir)
    t["part"].createOrReplaceTempView("part")
    return spark.sql(
        """
        SELECT p_partkey, p_brand, round(p_retailprice, 2) AS price
        FROM part p
        WHERE p_retailprice = (
            SELECT min(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand
        )
        ORDER BY p_partkey
        """
    )


@query(
    "x05_cte_reuse",
    """
    WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
               round(sum(o_totalprice), 2) AS rev,
               count(*) AS n
        FROM orders GROUP BY 1
    )
    SELECT a.mo, a.rev, a.n,
           round(a.rev - b.rev, 2) AS rev_delta
    FROM monthly a LEFT JOIN monthly b ON b.mo = CAST(a.mo - INTERVAL 1 MONTH AS DATE)
    ORDER BY a.mo
    """,
    ("cte", "join", "window"),
)
def x05_cte_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTE defined once, consumed twice (self-join for month-over-month delta)."""
    t = _t(spark, sf_dir)
    t["orders"].createOrReplaceTempView("orders")
    return spark.sql(
        """
        WITH monthly AS (
            SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
                   round(sum(o_totalprice), 2) AS rev,
                   count(*) AS n
            FROM orders GROUP BY 1
        )
        SELECT a.mo, a.rev, a.n,
               round(a.rev - b.rev, 2) AS rev_delta
        FROM monthly a LEFT JOIN monthly b ON b.mo = CAST(a.mo - INTERVAL 1 MONTH AS DATE)
        ORDER BY a.mo
        """
    )


@query(
    "x03_unpivot",
    """
    SELECT l_orderkey, l_linenumber, metric, round(val, 2) AS val
    FROM (
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        FROM lineitem WHERE l_orderkey < 300
    ) UNPIVOT (val FOR metric IN (l_quantity, l_extendedprice, l_discount))
    ORDER BY l_orderkey, l_linenumber, metric
    """,
    ("projection",),
)
def x03_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long): Spark stack() == SQL UNPIVOT."""
    t = _t(spark, sf_dir)
    return (
        t["lineitem"]
        .filter(F.col("l_orderkey") < 300)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.expr(
                "stack(3, 'l_quantity', l_quantity, 'l_extendedprice', l_extendedprice,"
                " 'l_discount', l_discount) AS (metric, val)"
            ),
        )
        .select("l_orderkey", "l_linenumber", "metric", F.round("val", 2).alias("val"))
        .orderBy("l_orderkey", "l_linenumber", "metric")
    )


@query(
    "x14_decimal_exact",
    """
    SELECT l_returnflag,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR) AS sum_price_exact,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR)      AS sum_qty_exact,
           CAST(CAST(min(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR) AS min_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    ("aggregation", "types"),
)
def x14_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decimal aggregation: DECIMAL(18,2) sums are order-independent (no float rounding
    needed); driver-facing output stringified — raw DECIMAL canonicalizes differently per engine
    (CLAUDE.md rule)."""
    t = _t(spark, sf_dir)
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.sum(dec("l_extendedprice")).cast("decimal(18,2)").cast("string").alias("sum_price_exact"),
            F.sum(dec("l_quantity")).cast("decimal(18,2)").cast("string").alias("sum_qty_exact"),
            F.min(dec("l_extendedprice")).cast("decimal(18,2)").cast("string").alias("min_price"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "x15_na_handling",
    """
    WITH j AS (
        SELECT c_custkey, c_acctbal, o.o_totalprice
        FROM customer c LEFT JOIN (SELECT o_custkey, max(o_totalprice) AS o_totalprice
                                   FROM orders WHERE o_totalprice > 400000 GROUP BY o_custkey) o
          ON o.o_custkey = c_custkey
    )
    SELECT 'filled' AS variant, count(*) AS n, round(sum(coalesce(o_totalprice, -1.0)), 2) AS total
    FROM j
    UNION ALL
    SELECT 'dropped', count(*), round(sum(o_totalprice), 2)
    FROM j WHERE o_totalprice IS NOT NULL
    ORDER BY variant
    """,
    ("functions", "null"),
)
def x15_na_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """na.fill / na.drop over outer-join-produced nulls."""
    t = _t(spark, sf_dir)
    top = (
        t["orders"]
        .filter(F.col("o_totalprice") > 400000)
        .groupBy("o_custkey")
        .agg(F.max("o_totalprice").alias("o_totalprice"))
    )
    j = t["customer"].join(top, F.col("o_custkey") == F.col("c_custkey"), "left").select(
        "c_custkey", "c_acctbal", "o_totalprice"
    )
    filled = j.na.fill({"o_totalprice": -1.0}).agg(
        F.lit("filled").alias("variant"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )
    dropped = j.na.drop(subset=["o_totalprice"]).agg(
        F.lit("dropped").alias("variant"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )
    return filled.unionByName(dropped).orderBy("variant")


@query(
    "x01_upsert_merge",
    """
    WITH updates AS (
        SELECT o_custkey AS c_custkey,
               round(sum(o_totalprice), 2) AS new_acctbal
        FROM orders WHERE o_orderstatus = 'O'
        GROUP BY o_custkey
    )
    SELECT c.c_custkey, c.c_name,
           round(coalesce(u.new_acctbal, c.c_acctbal), 2) AS acctbal,
           u.c_custkey IS NOT NULL AS was_updated
    FROM customer c LEFT JOIN updates u ON u.c_custkey = c.c_custkey
    UNION ALL
    SELECT u.c_custkey, 'NEW#' || u.c_custkey, round(u.new_acctbal, 2), TRUE
    FROM updates u ANTI JOIN customer c ON c.c_custkey = u.c_custkey
    ORDER BY c_custkey, c_name
    """,
    ("merge", "join"),
)
def x01_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation (upsert/CDC apply): matched rows updated, unmatched inserted via
    anti-join + union."""
    t = _t(spark, sf_dir)
    updates = (
        t["orders"]
        .filter(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("u_custkey"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("new_acctbal"))
    )
    cust = t["customer"]
    # WHEN MATCHED THEN UPDATE / existing unmatched rows kept as-is
    updated = (
        cust.join(updates, F.col("u_custkey") == F.col("c_custkey"), "left")
        .select(
            "c_custkey",
            "c_name",
            F.round(F.coalesce(F.col("new_acctbal"), F.col("c_acctbal")), 2).alias("acctbal"),
            F.col("u_custkey").isNotNull().alias("was_updated"),
        )
    )
    # WHEN NOT MATCHED THEN INSERT
    inserted = (
        updates.join(cust, F.col("c_custkey") == F.col("u_custkey"), "left_anti")
        .select(
            F.col("u_custkey").alias("c_custkey"),
            F.concat(F.lit("NEW#"), F.col("u_custkey")).alias("c_name"),
            F.round(F.col("new_acctbal"), 2).alias("acctbal"),
            F.lit(True).alias("was_updated"),
        )
    )
    return updated.unionByName(inserted).orderBy("c_custkey", "c_name")
