"""Connector layer: ``read_snowflake`` / ``to_snowflake`` on PySpark.

Faithful re-expression of the reference's surface
(/root/reference/dask_snowflake/core.py):

- ``read_snowflake`` (core.py:200-302): execute SQL on the warehouse,
  return a *lazy*, partitioned DataFrame of the staged Arrow result.
  Planning (execute + batch descriptors + schema-from-first-batch +
  greedy bin-packing) happens once on the driver; executors download and
  decode only their own batch group — the reference's deferred-fetch
  split, here a ``mapInArrow`` over one seed row per group whose closure
  carries the descriptor groups.
- ``to_snowflake`` (core.py:70-124): CREATE TABLE IF NOT EXISTS from the
  DataFrame schema first (sequenced before the fan-out to avoid the
  CREATE race, core.py:110-116), then one warehouse connection per
  partition bulk-loading rows (core.py:20-40). ``compute=False`` returns
  an unexecuted ``LazyWrite`` (parity with the reference's Delayed list,
  core.py:123-124).

Why the driver plans, rather than a Spark Python Data Source: planning
in the driver process takes ``execute_params`` of any Python type (Data
Source options are strings, so no ``date`` or ``Decimal``). Descriptors
are references (a presigned URL, or the stub's byte range of a staged
file), so the closure stays small; PySpark broadcasts a task command
only above ``spark.broadcast.UDFCompressionThreshold`` (1 MiB), and the
context cleaner frees it with its DataFrame.

Semantics kept: exactly-one-of npartitions/partition_size with default
"100MiB" (core.py:258-260), parameterized queries (core.py:143),
empty-result short-circuit (core.py:277-278, schema-preserving deviation
documented in SURVEY.md §1.3), Arrow-batch type guard (core.py:280-285),
partner-ID config resolved at the connection site (core.py:27-30,
273-275; here: ``spark.snowflake.partner`` conf, explicit user value
wins), telemetry-kwarg guard (core.py:262-271).

Scale posture: planning touches batch *descriptors* plus one sampled
batch (the reference's meta pattern, core.py:287-292) — never the result
set; per-executor work is streaming Arrow IPC decode, no driver
collect anywhere.
"""

from __future__ import annotations

import re
from typing import Any, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

from ..plans.partitioning import plan_partitions
from .backends import resolve_backend

PARTNER_CONF_KEY = "spark.snowflake.partner"
DEFAULT_PARTNER = "spark"


def _prepare_connection_kwargs(
    connection_kwargs: dict[str, Any] | None, partner_from_conf: str
) -> dict[str, Any]:
    """Inject the partner-ID ``application`` kwarg (explicit value wins —
    reference test contract test_core.py:237-261) and apply the telemetry
    guard (core.py:262-271)."""
    kwargs = dict(connection_kwargs or {})
    if kwargs.get("log_imported_packages_in_telemetry"):
        raise ValueError(
            "log_imported_packages_in_telemetry=True is not supported "
            "(upstream snowflake-connector telemetry issue; the reference "
            "forces it off — dask_snowflake/core.py:262-271)"
        )
    kwargs["log_imported_packages_in_telemetry"] = False
    kwargs.setdefault("application", partner_from_conf)
    return kwargs


def read_snowflake(
    query: str,
    *,
    spark: SparkSession | None = None,
    connection_kwargs: dict[str, Any] | None = None,
    execute_params: Any = None,
    partition_size: str | int | None = None,
    npartitions: int | None = None,
    backend: str = "snowflake",
    cast_map: dict[str, str] | None = None,
) -> DataFrame:
    """Execute ``query`` on the warehouse; return a lazy partitioned
    DataFrame of the staged result (reference core.py:200-302).

    ``cast_map`` is the Spark analog of the reference's ``arrow_options``
    (core.py:218-220; ``types_mapper`` forcing Float32 in
    test_core.py:106-123): a ``{column: spark_type_string}`` mapping
    applied to the result, e.g. ``{"X": "float"}`` to read a DOUBLE
    column as 32-bit float. Unlisted columns keep their inferred types.
    """
    # checked up front: an empty result never reaches the planner's check
    if npartitions is not None and partition_size is not None:
        raise ValueError("Specify either npartitions or partition_size, not both")
    spark = spark or SparkSession.active()
    from ..session import _ensure_runtime_confs

    _ensure_runtime_confs(spark)  # executor import of batch descriptors

    # driver-side planning: one warehouse connection, batch descriptors
    be = resolve_backend(backend)
    kwargs = _prepare_connection_kwargs(
        connection_kwargs, spark.conf.get(PARTNER_CONF_KEY, DEFAULT_PARTNER)
    )
    conn = be.connect(**kwargs)
    try:
        arrow_schema, batches = be.execute_batches(conn, query, execute_params)
    finally:
        be.close(conn)

    groups: list[list[Any]] = []
    if batches:
        # meta from the first batch (reference core.py:287-292): schema +
        # a sampled bytes-per-row estimate for byte-targeted sizing
        sample = batches[0].to_arrow()
        if arrow_schema is None:
            arrow_schema = sample.schema
        index_groups = plan_partitions(
            [b.rowcount for b in batches],
            bytes_per_row=max(sample.nbytes / max(sample.num_rows, 1), 1.0),
            npartitions=npartitions,
            partition_size=partition_size,
        )
        groups = [[batches[i] for i in g] for g in index_groups]
    elif arrow_schema is None:
        arrow_schema = pa.schema([])
    spark_schema = from_arrow_schema(arrow_schema)

    def apply_cast(df: DataFrame) -> DataFrame:
        if not cast_map:
            return df
        unknown = set(cast_map) - set(df.columns)
        if unknown:
            raise ValueError(f"cast_map references absent columns: {sorted(unknown)}")
        return df.select(
            *[
                F.col(c).cast(cast_map[c]).alias(c) if c in cast_map else F.col(c)
                for c in df.columns
            ]
        )

    if not groups:
        return apply_cast(spark.createDataFrame([], spark_schema))

    # One seed row per descriptor group; the closure carries the groups
    # (references, not bytes), and executors decode only their own
    # batches and emit Arrow directly (mapInArrow) — no pandas hop, no
    # per-row Python conversion.
    seed = spark.range(0, len(groups), numPartitions=len(groups))

    def fetch(seeds: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in seeds:
            for pid in rb.column(0).to_pylist():
                for descriptor in groups[pid]:
                    table = descriptor.to_arrow()
                    if table.schema != arrow_schema:
                        table = table.cast(arrow_schema)
                    yield from table.to_batches()

    return apply_cast(seed.mapInArrow(fetch, spark_schema))


# ---------------------------------------------------------------------------
# Write path
# ---------------------------------------------------------------------------

# common ANSI/warehouse reserved words that break unquoted DDL — kept
# small on purpose: the goal is a clear early error for the likely
# collisions, not a full SQL grammar
_SQL_RESERVED = frozenset(
    """ALL AND ANY AS ASC BETWEEN BY CASE CAST CHECK COLUMN CREATE CROSS
    CURRENT DEFAULT DELETE DESC DISTINCT DROP ELSE END EXISTS FALSE FOR
    FROM FULL GRANT GROUP HAVING IN INNER INSERT INTERSECT INTO IS JOIN
    LEFT LIKE LIMIT NATURAL NOT NULL ON OR ORDER OUTER RIGHT SELECT SET
    TABLE THEN TO TRUE UNION UNIQUE UPDATE USING VALUES WHEN WHERE
    WITH""".split()
)

# keys are DataType.simpleString() spellings
_SPARK_TO_SQL = {
    "bigint": "BIGINT",
    "int": "INTEGER",
    "smallint": "SMALLINT",
    "tinyint": "TINYINT",
    "double": "DOUBLE",
    "float": "FLOAT",
    "string": "VARCHAR",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
    "binary": "BLOB",
}


def schema_to_ddl(schema: StructType) -> str:
    """CREATE TABLE column list from a Spark schema (reference creates the
    table from the empty meta frame, core.py:43-67; we generate DDL from
    ``df.schema`` — same effect, no data movement).

    Identifiers are emitted unquoted and upper-cased to match the write
    path's ``write_pandas(..., quote_identifiers=False)`` (reference
    core.py:31-40 upper-cases the table name for the same reason): a
    quoted lower-case DDL column would resolve case-sensitively on a real
    warehouse and reject every subsequent unquoted COPY.
    """
    cols = []
    seen: set[str] = set()
    for f in schema.fields:
        ident = f.name.upper()
        # the unquoted contract can only express plain identifiers; a
        # reserved word or special character would produce DDL that the
        # warehouse rejects (or a silent case-collision) — fail loudly
        # with guidance instead
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", f.name) or ident in _SQL_RESERVED:
            raise ValueError(
                f"column name {f.name!r} cannot be written with unquoted "
                "identifiers (write_pandas quote_identifiers=False); rename "
                "it to a plain non-reserved identifier before to_snowflake"
            )
        if ident in seen:
            raise ValueError(
                f"columns collide case-insensitively on {ident!r} under the "
                "unquoted-identifier contract; rename one of them"
            )
        seen.add(ident)
        name = f.dataType.simpleString()
        if name.startswith("decimal"):
            sql_type = name.upper()
        elif name in _SPARK_TO_SQL:
            sql_type = _SPARK_TO_SQL[name]
        else:
            # array/map/struct/interval: a silent VARCHAR here would
            # stage real nested parquet against a string column and
            # fail (or stringify) only at the COPY step, after every
            # partition was written — fail at DDL time like the
            # identifier guards above instead
            raise ValueError(
                f"column {f.name!r} has type {name!r}, which to_snowflake "
                "cannot map to a warehouse column type; serialize it "
                "explicitly (e.g. to_json) before writing"
            )
        cols.append(f"{ident} {sql_type}")
    return ", ".join(cols)


class LazyWrite:
    """Unexecuted write (parity with the reference's ``compute=False``
    Delayed list, core.py:123-124; test_core.py:83-103: nothing is
    written until computed)."""

    def __init__(self, fn):
        self._fn = fn
        self._done = False

    def compute(self) -> int:
        if not self._done:
            self._rows = self._fn()
            self._done = True
        return self._rows


def to_snowflake(
    df: DataFrame,
    name: str,
    *,
    connection_kwargs: dict[str, Any] | None = None,
    write_pandas_kwargs: dict[str, Any] | None = None,
    compute: bool = True,
    backend: str = "snowflake",
) -> int | LazyWrite:
    """Parallel append of every partition of ``df`` into table ``name``
    (upper-cased, reference core.py:37): bootstrap DDL first, then one
    connection + one bulk load per partition on executors.

    Returns rows written (``compute=True``) or a :class:`LazyWrite`.
    """
    spark = df.sparkSession
    from ..session import _ensure_runtime_confs

    _ensure_runtime_confs(spark)
    table = name.upper()
    backend_name = backend
    partner = spark.conf.get(PARTNER_CONF_KEY, DEFAULT_PARTNER)
    kwargs = _prepare_connection_kwargs(connection_kwargs, partner)
    wp_kwargs = dict(write_pandas_kwargs or {})
    ddl = schema_to_ddl(df.schema)

    def run() -> int:
        be = resolve_backend(backend_name)
        if getattr(be, "writes_need_database", False) and not kwargs.get("database"):
            raise ValueError(
                f"backend {backend_name!r} needs a file 'database' in "
                "connection_kwargs to write: an in-memory database is a "
                "fresh empty warehouse per connection, so the bootstrap "
                "DDL, the staged partitions, and the final COPY would "
                "never meet"
            )
        # 1. bootstrap, sequenced before the fan-out (CREATE race,
        #    reference core.py:110-116)
        conn = be.connect(**kwargs)
        try:
            be.create_table_if_absent(conn, table, ddl)
            if wp_kwargs.get("overwrite"):
                be.truncate(conn, table)
        finally:
            be.close(conn)

        part_kwargs = {k: v for k, v in wp_kwargs.items() if k != "overwrite"}
        # duckdb stub stages partition files next to the database (PUT step)
        part_kwargs["_database"] = kwargs.get("database")

        # 2. per-partition bulk load (reference core.py:20-40), one Arrow
        #    table per partition
        def write_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            be = resolve_backend(backend_name)
            kept = [rb for rb in batches if rb.num_rows]
            rows = sum(rb.num_rows for rb in kept)
            if rows:
                conn = be.connect(**kwargs)
                try:
                    be.write_arrow(conn, pa.Table.from_batches(kept), table, **part_kwargs)
                finally:
                    be.close(conn)
            yield pa.RecordBatch.from_pydict({"rows_written": [rows]})

        counts = df.mapInArrow(write_partition, "rows_written long").collect()
        total = sum(r.rows_written for r in counts)
        be.finalize_write(table, kwargs)
        return total

    if compute:
        return run()
    return LazyWrite(run)
