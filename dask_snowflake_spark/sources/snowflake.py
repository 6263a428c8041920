"""Connector layer: ``read_snowflake`` / ``to_snowflake`` on PySpark.

Faithful re-expression of the reference's surface
(/root/reference/dask_snowflake/core.py):

- ``read_snowflake`` (core.py:200-302): execute SQL on the warehouse,
  return a *lazy*, partitioned DataFrame of the staged Arrow result.
  Planning (execute + batch descriptors + schema-from-first-batch +
  greedy bin-packing) happens once on the driver; executors download and
  decode only their own batch group — the same deferred-fetch split the
  reference gets from ``DataSourceReader.partitions()`` vs ``read()``.
- ``to_snowflake`` (core.py:70-124): CREATE TABLE IF NOT EXISTS from the
  DataFrame schema first (sequenced before the fan-out to avoid the
  CREATE race, core.py:110-116), then one warehouse connection per
  partition bulk-loading rows (core.py:20-40). ``compute=False`` returns
  an unexecuted ``LazyWrite`` (parity with the reference's Delayed list,
  core.py:123-124).

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

import json
import re
from dataclasses import dataclass
from typing import Any, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import StructType

from ..plans.partitioning import DEFAULT_PARTITION_SIZE, plan_partitions
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


@dataclass
class _BatchGroupPartition(InputPartition):
    """One read partition = one bin-packed group of batch descriptors."""

    batches: list[Any]


class SnowflakeNativeDataSource(DataSource):
    """``spark.read.format("snowflake_native")`` — options:

    query (str, required), backend ("snowflake" | "duckdb"),
    connection_kwargs (JSON), execute_params (JSON),
    partition_size (str|int), npartitions (int), partner (str).
    """

    @classmethod
    def name(cls) -> str:
        return "snowflake_native"

    def __init__(self, options: dict[str, str]):
        super().__init__(options)
        self._planned: _PlannedRead | None = None
        self._spark_schema: StructType | None = None

    def _plan(self) -> "_PlannedRead":
        if self._planned is None:
            opts = self.options
            npartitions = opts.get("npartitions")
            partition_size = opts.get("partition_size")
            self._planned = _plan_read(
                query=opts["query"],
                backend_name=opts.get("backend", "snowflake"),
                connection_kwargs=json.loads(opts.get("connection_kwargs", "{}")),
                execute_params=json.loads(opts.get("execute_params", "null")),
                npartitions=int(npartitions) if npartitions is not None else None,
                partition_size=partition_size,
                partner=opts.get("partner", DEFAULT_PARTNER),
            )
            self._spark_schema = self._planned.spark_schema
        return self._planned

    def schema(self) -> StructType:
        if self._spark_schema is None:
            self._plan()
        return self._spark_schema

    def reader(self, schema: StructType) -> DataSourceReader:
        # Spark's per-task read function closes over this data source as
        # well as the reader, so the descriptors must leave it here: kept
        # on the data source, every task would receive every partition's
        # batches (the duckdb stub embeds payload bytes). Only the schema
        # stays behind; a second reader() call plans afresh.
        planned, self._planned = self._plan(), None
        return _SnowflakeNativeReader(planned)


@dataclass
class _PlannedRead:
    spark_schema: StructType
    arrow_schema: pa.Schema
    groups: list[list[Any]]  # batch descriptors, bin-packed


class _SnowflakeNativeReader(DataSourceReader):
    def __init__(self, planned: _PlannedRead):
        self._groups = planned.groups
        self._arrow_schema = planned.arrow_schema

    def __getstate__(self):
        # the reader is pickled PER TASK alongside one partition:
        # shipping the full descriptor list would send every partition's
        # batches to every task (the duckdb stub embeds payload bytes —
        # O(result x partitions) transfer). read() needs only the schema;
        # partitions() runs driver-side on the original object.
        return {"_arrow_schema": self._arrow_schema}

    def __setstate__(self, state):
        self._arrow_schema = state["_arrow_schema"]
        self._groups = None

    def partitions(self) -> list[InputPartition]:
        groups = self._groups
        if groups is None:
            # None means this is a deserialized task-side copy
            # (__setstate__ drops the descriptors on purpose). If a
            # future Spark version ever calls partitions() on such a
            # copy, returning the empty-result partition would silently
            # read zero rows — fail loudly instead.
            raise RuntimeError(
                "partitions() called on a deserialized reader copy; "
                "batch descriptors exist only on the driver-side original"
            )
        if not groups:
            # empty result: one empty partition, schema preserved
            return [_BatchGroupPartition(batches=[])]
        return [_BatchGroupPartition(batches=g) for g in groups]

    def read(self, partition: _BatchGroupPartition) -> Iterator[pa.RecordBatch]:
        return _decode(partition.batches, self._arrow_schema)


def _decode(descriptors: list[Any], schema: pa.Schema) -> Iterator[pa.RecordBatch]:
    """Download and decode one partition's batches as the planned schema."""
    for descriptor in descriptors:
        table = descriptor.to_arrow()
        if table.schema != schema:
            table = table.cast(schema)
        yield from table.to_batches()


def _plan_read(
    *,
    query: str,
    backend_name: str,
    connection_kwargs: dict[str, Any],
    execute_params: Any,
    npartitions: int | None,
    partition_size: str | int | None,
    partner: str,
) -> _PlannedRead:
    """Driver-side planning: one warehouse connection, batch descriptors,
    schema + per-row-size from the first batch, greedy bin-packing."""
    if npartitions is not None and partition_size is not None:
        raise ValueError("Specify either npartitions or partition_size, not both")
    backend = resolve_backend(backend_name)
    kwargs = _prepare_connection_kwargs(connection_kwargs, partner)
    conn = backend.connect(**kwargs)
    try:
        arrow_schema, batches = backend.execute_batches(conn, query, execute_params)
    finally:
        backend.close(conn)

    if not batches:
        if arrow_schema is None:
            arrow_schema = pa.schema([])
        return _PlannedRead(from_arrow_schema(arrow_schema), arrow_schema, [])

    # meta from the first batch (reference core.py:287-292): schema + a
    # sampled bytes-per-row estimate for byte-targeted partition sizing
    sample = batches[0].to_arrow()
    if arrow_schema is None:
        arrow_schema = sample.schema
    bytes_per_row = max(sample.nbytes / max(sample.num_rows, 1), 1.0)

    rowcounts = [b.rowcount for b in batches]
    index_groups = plan_partitions(
        rowcounts,
        bytes_per_row=bytes_per_row,
        npartitions=npartitions,
        partition_size=partition_size,
    )
    groups = [[batches[i] for i in g] for g in index_groups]
    return _PlannedRead(from_arrow_schema(arrow_schema), arrow_schema, groups)


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
    spark = spark or SparkSession.active()
    from ..session import _ensure_runtime_confs

    _ensure_runtime_confs(spark)  # executor import of batch descriptors
    if partition_size is None and npartitions is None:
        partition_size = DEFAULT_PARTITION_SIZE
    planned = _plan_read(
        query=query,
        backend_name=backend,
        connection_kwargs=connection_kwargs or {},
        execute_params=execute_params,
        npartitions=npartitions,
        partition_size=partition_size,
        partner=spark.conf.get(PARTNER_CONF_KEY, DEFAULT_PARTNER),
    )
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

    if not planned.groups:
        return apply_cast(spark.createDataFrame([], planned.spark_schema))

    # Distribute descriptor groups via a broadcast + a partition-index
    # seed DataFrame; executors decode only their own batches and emit
    # Arrow directly (mapInArrow) — no pandas hop, no per-row Python
    # conversion. (Real warehouse descriptors are presigned URLs, so the
    # broadcast is small; the duckdb stub embeds payload bytes.)
    arrow_schema = planned.arrow_schema
    from ..session import track_broadcast

    groups_bc = track_broadcast(spark.sparkContext.broadcast(planned.groups))
    seed = spark.range(0, len(planned.groups), numPartitions=len(planned.groups))

    def fetch(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            for pid in rb.column(0).to_pylist():
                yield from _decode(groups_bc.value[pid], arrow_schema)

    return apply_cast(seed.mapInArrow(fetch, planned.spark_schema))


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
    arrow_schema = to_arrow_schema(df.schema)

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
        # duckdb stub stages partition files next to the database (PUT
        # step). The default must match finalize_write's lookup exactly
        # — a None here once staged into a literal 'None.stage.T' dir
        # that finalize (defaulting ':memory:') never read: rows
        # "written" but silently absent
        part_kwargs["_database"] = kwargs.get("database") or ":memory:"

        # 2. per-partition bulk load (reference core.py:20-40), Arrow in
        def write_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            be = resolve_backend(backend_name)
            rows = 0
            pdfs = []
            for rb in batches:
                rows += rb.num_rows
                pdfs.append(rb.to_pandas())
            if rows:
                import pandas as pd

                conn = be.connect(**kwargs)
                try:
                    be.write_pandas(conn, pd.concat(pdfs, ignore_index=True), table, **part_kwargs)
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
