"""The benchmark's workloads: named operations, each timed from outside
through the package's public functions, and each with an output check
that runs (untimed) in the warm-up pass.

- ``warehouse_io`` -- ``read_snowflake`` / ``to_snowflake`` against the
  DuckDB warehouse stub (``backend="duckdb"``), over the sf0.1 inputs.
- ``llm_pipeline`` -- heavy, iterative registry queries over the
  operator library, over the sf0.01 inputs.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field
from typing import Any

import pandas as pd
import pyarrow as pa

LLM_QUERIES = (
    "hits_bipartite",  # graph analytics, hand-rolled iteration (ext_queries)
    "graph_kcore_onion",  # operators/graph.py kcore_onion
    "xa4_fused_metric_quantiles",  # operators/quantiles.py exact group quantiles
    "pipeline_llm_corpus",  # dedup.py MinHash + graph.py components + decontam + sampling
)
ORDERS_SLICE_ROWS = 50_000
READ_NPARTITIONS = 8
READ_SMALL_PARTITION = "2MiB"


@dataclass
class Context:
    """What an operation needs besides the session."""

    spark: Any
    sf_dir: str
    warehouse_db: str = ""
    conn_log: str | None = None  # set in traced passes only
    oracle_con: Any = None
    digests: dict = field(default_factory=dict)  # DuckDB-side check cache

    def conn_kwargs(self) -> dict[str, Any]:
        kwargs: dict[str, Any] = {"database": self.warehouse_db}
        if self.conn_log:
            kwargs["_conn_log"] = self.conn_log
        return kwargs


class Collected:
    """A collected Spark result in the shape ``tests/oracle.compare`` reads."""

    def __init__(self, columns: list[str], rows: list):
        self.columns, self._rows = columns, rows

    def collect(self) -> list:
        return self._rows


def arrow_digest(table: pa.Table) -> tuple[int, int]:
    """Row count and an order-insensitive 64-bit hash of ``table``, with
    columns taken by name and types widened so both engines agree."""
    frame = {}
    for name in sorted(table.column_names):
        col = table.column(name)
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us")).cast(pa.int64())
        elif pa.types.is_integer(col.type):
            col = col.cast(pa.int64())
        elif pa.types.is_floating(col.type):
            col = col.cast(pa.float64())
        frame[name] = col.to_numpy(zero_copy_only=False)
    rows = pd.util.hash_pandas_object(pd.DataFrame(frame), index=False).to_numpy()
    return len(rows), int(rows.sum())


def _duckdb(path: str):
    import duckdb

    return duckdb.connect(path)


class QueryOp:
    """One registry query executed into the ``noop`` sink."""

    kind = "query"

    def __init__(self, qd):
        if qd.oracle is None:
            raise ValueError(f"{qd.name} has no oracle SQL to check against")
        self.name, self.qd = qd.name, qd

    def draw(self, rng: random.Random) -> None:
        return None

    def run(self, ctx: Context, params: None) -> tuple[dict[str, float], int]:
        t0 = time.perf_counter()
        df = self.qd.spark_fn(ctx.spark, ctx.sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return {"build_s": t1 - t0, "exec_s": time.perf_counter() - t1}, 0

    def warm(self, ctx: Context, params: None) -> tuple[float, list[str]]:
        from tests.oracle import compare

        t0 = time.perf_counter()
        df = self.qd.spark_fn(ctx.spark, ctx.sf_dir)
        got = Collected(df.columns, df.collect())
        wall = time.perf_counter() - t0
        return wall, compare(self.name, got, self.qd.oracle, ctx.oracle_con)


class ReadOp:
    """``read_snowflake`` of one SQL statement, fetched into ``noop``."""

    kind = "read"

    def __init__(self, name: str, sql: str, *, npartitions=None, partition_size=None, param_space=0):
        self.name, self.sql = name, sql
        self.npartitions, self.partition_size = npartitions, partition_size
        self.param_space = param_space  # >0: a `?` range read with a drawn start
        self.rows = 0  # learned by the warm-up check

    def draw(self, rng: random.Random) -> list[int] | None:
        if not self.param_space:
            return None
        start = rng.randrange(self.param_space - ORDERS_SLICE_ROWS + 1)
        return [start, start + ORDERS_SLICE_ROWS]

    def _read(self, ctx: Context, params):
        from dask_snowflake_spark import read_snowflake

        return read_snowflake(
            self.sql,
            spark=ctx.spark,
            connection_kwargs=ctx.conn_kwargs(),
            execute_params=params,
            npartitions=self.npartitions,
            partition_size=self.partition_size,
            backend="duckdb",
        )

    def run(self, ctx: Context, params) -> tuple[dict[str, float], int]:
        t0 = time.perf_counter()
        df = self._read(ctx, params)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return {"plan_s": t1 - t0, "fetch_s": time.perf_counter() - t1}, self.rows

    def warm(self, ctx: Context, params) -> tuple[float, list[str]]:
        t0 = time.perf_counter()
        got = self._read(ctx, params).toArrow()
        wall = time.perf_counter() - t0
        key = (self.sql, tuple(params or ()))
        if key not in ctx.digests:
            con = _duckdb(ctx.warehouse_db)
            try:
                ctx.digests[key] = arrow_digest(con.execute(self.sql, params).arrow())
            finally:
                con.close()
        want, have = ctx.digests[key], arrow_digest(got)
        self.rows = have[0]
        if have != want:
            return wall, [f"{self.name}: (rows, hash) {have} != warehouse {want}"]
        return wall, []


class WriteOp:
    """``to_snowflake`` of a whole source table, overwriting the target so
    it stays the same size from pass to pass."""

    kind = "write"

    def __init__(self, name: str, source: str, target: str):
        self.name, self.source, self.target = name, source, target

    def draw(self, rng: random.Random) -> None:
        return None

    def _write(self, ctx: Context) -> tuple[float, int]:
        from dask_snowflake_spark import load_table, to_snowflake

        df = load_table(ctx.spark, ctx.sf_dir, self.source)
        t0 = time.perf_counter()
        rows = to_snowflake(
            df,
            self.target,
            connection_kwargs=ctx.conn_kwargs(),
            write_pandas_kwargs={"overwrite": True},
            backend="duckdb",
        )
        return time.perf_counter() - t0, rows

    def run(self, ctx: Context, params: None) -> tuple[dict[str, float], int]:
        wall, rows = self._write(ctx)
        return {"total_s": wall}, rows

    def warm(self, ctx: Context, params: None) -> tuple[float, list[str]]:
        wall, _ = self._write(ctx)
        return wall, self.check(ctx)

    def check(self, ctx: Context) -> list[str]:
        """Row count and per-column sums of the written table against the
        source file, both computed by DuckDB."""
        src = os.path.join(ctx.sf_dir, f"{self.source}.parquet")
        con = _duckdb(ctx.warehouse_db)
        try:
            described = con.execute(f"DESCRIBE SELECT * FROM read_parquet('{src}')").fetchall()
            cols = [r[0] for r in described if r[1] in ("BIGINT", "INTEGER", "DOUBLE")]
            aggs = ", ".join(["count(*)"] + [f"sum({c})" for c in cols])
            want = con.execute(f"SELECT {aggs} FROM read_parquet('{src}')").fetchone()
            have = con.execute(f'SELECT {aggs} FROM "{self.target.upper()}"').fetchone()
        finally:
            con.close()
        if have[0] != want[0] or any(
            abs(h - w) > 1e-9 * max(abs(w), 1.0) for h, w in zip(have[1:], want[1:])
        ):
            return [f"{self.name}: read-back (count, sums) {have} != source {want}"]
        return []


def warehouse_ops(orders_parquet: str) -> list:
    import pyarrow.parquet as pq

    n_orders = pq.read_metadata(orders_parquet).num_rows
    lineitem = "SELECT * FROM lineitem"
    return [
        ReadOp("read_lineitem_1p", lineitem),
        ReadOp("read_lineitem_np", lineitem, npartitions=READ_NPARTITIONS),
        ReadOp("read_lineitem_2mib", lineitem, partition_size=READ_SMALL_PARTITION),
        ReadOp(
            "read_orders_param",
            "SELECT * FROM orders WHERE o_orderkey >= ? AND o_orderkey < ?",
            param_space=n_orders,
        ),
        ReadOp(
            "read_lineitem_agg",
            "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty "
            "FROM lineitem GROUP BY 1, 2",
        ),
        WriteOp("write_orders", "orders", "pb_orders"),
        WriteOp("write_lineitem", "lineitem", "pb_lineitem"),
    ]


def llm_ops() -> list:
    from dask_snowflake_spark.queries import registry

    reg = registry()
    return [QueryOp(reg[name]) for name in LLM_QUERIES]
