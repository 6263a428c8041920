"""Warehouse backend protocol + implementations.

The reference talks to Snowflake through ``snowflake.connector``:
``connect() -> cursor.execute(query, params) -> get_result_batches()``
returning Arrow batch descriptors that workers download lazily
(/root/reference/dask_snowflake/core.py:133-146), and bulk-writes with
``write_pandas`` — a PUT-files-then-COPY-INTO bulk load (core.py:32).
We abstract that surface into a small protocol so the engine runs
against:

- ``snowflake``: the real connector (import-gated; absent in this
  container, used unchanged on a real deployment), or
- ``duckdb``: a local warehouse stub with the same call shape, backed by
  a DuckDB database file — used by the test suite so plumbing contracts
  (connection counts, partner-ID kwarg, partition bounds) run
  warehouse-free (SURVEY.md §5).

Batch descriptors are small picklable references (a presigned URL, or
the stub's byte range of a staged file) that travel driver -> executor
in the ``read_snowflake`` task closure; only executors read the data.

Connection logging: because Spark executors are separate processes, the
reference's monkeypatch-count-connections test pattern
(test_core.py:149-261) is reproduced with a file-based log — pass
``_conn_log=<path>`` in ``connection_kwargs`` and every ``connect()``
appends one JSON line (kwargs minus secrets) wherever it runs.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import json
import os
import tempfile
import time
import uuid
from dataclasses import dataclass
from typing import Any, Protocol

import pyarrow as pa
import pyarrow.parquet as pq


class ResultBatch(Protocol):
    rowcount: int

    def to_arrow(self) -> pa.Table: ...


def _log_connection(kwargs: dict[str, Any]) -> None:
    path = kwargs.get("_conn_log")
    if not path:
        return
    entry = {k: v for k, v in kwargs.items() if k not in ("password", "_conn_log")}
    with open(path, "a") as f:
        f.write(json.dumps(entry, default=str) + "\n")


def read_connection_log(path: str) -> list[dict[str, Any]]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


# ---------------------------------------------------------------------------
# DuckDB-backed local warehouse stub
# ---------------------------------------------------------------------------


@dataclass
class LocalArrowBatch:
    """Picklable reference to one staged Arrow result batch.

    Names a byte range of the result file ``DuckDBBackend`` staged: one
    Arrow IPC stream holding this batch. ``to_arrow`` reads and decodes
    it on the executor, as a real warehouse batch downloads its presigned
    URL there.
    """

    rowcount: int
    path: str
    offset: int
    length: int

    @property
    def payload(self) -> bytes:
        with open(self.path, "rb") as f:
            f.seek(self.offset)
            return f.read(self.length)

    def to_arrow(self) -> pa.Table:
        return pa.ipc.open_stream(self.payload).read_all()


def _remove_staged(path: str) -> None:
    with contextlib.suppress(OSError):
        os.remove(path)


class DuckDBBackend:
    """Local warehouse with the Snowflake-connector call shape.

    Same-host only: a read stages its result as one Arrow IPC file in the
    process temp dir (removed at interpreter exit), and writes stage
    parquet next to the database file, so driver and executors share a disk.

    Writes mimic write_pandas's PUT+COPY: each partition stages a parquet
    file next to the database (PUT), and ``finalize_write`` COPYs staged
    files into the table in one transaction. This also sidesteps DuckDB's
    single-writer file lock under Spark's multi-process executors.
    Writes REQUIRE a file ``database`` (``writes_need_database``): every
    connect() to ``:memory:`` is a fresh empty database, so the DDL
    bootstrap, the staged partitions, and the final COPY would each see
    a different vanishing warehouse — previously that surfaced as a
    positive rows-written count with the data silently absent.
    """

    name = "duckdb"
    writes_need_database = True

    def connect(self, **kwargs: Any):
        import duckdb

        _log_connection(kwargs)
        database = kwargs.get("database", ":memory:")
        deadline = time.monotonic() + 60
        while True:
            try:
                return duckdb.connect(database)
            except duckdb.IOException:
                if time.monotonic() > deadline:
                    raise
                time.sleep(0.05)

    def execute_batches(
        self, conn: Any, query: str, params: Any
    ) -> tuple[pa.Schema | None, list[ResultBatch]]:
        if params is not None:
            cur = conn.execute(query, params)
        else:
            cur = conn.execute(query)
        # ~8k-row batches exercise the bin-packing path the way
        # Snowflake's small (<1 MiB) result batches do
        reader = cur.fetch_record_batch(8192)
        fd, path = tempfile.mkstemp(suffix=".arrow")
        atexit.register(_remove_staged, path)
        batches: list[ResultBatch] = []
        with os.fdopen(fd, "wb") as f:
            for rb in reader:
                if rb.num_rows == 0:
                    continue
                offset = f.tell()
                with pa.ipc.new_stream(f, rb.schema) as writer:
                    writer.write_batch(rb)
                batches.append(LocalArrowBatch(rb.num_rows, path, offset, f.tell() - offset))
        return reader.schema, batches

    # -- write side ---------------------------------------------------------

    def _stage_dir(self, database: str, table: str) -> str:
        # writes need a file database (writes_need_database), so there is
        # always a file to stage next to
        return f"{database}.stage.{table}"

    def write_arrow(self, conn: Any, table: pa.Table, name: str, **kwargs: Any) -> None:
        # PUT step: stage the partition as parquet; COPY happens in
        # finalize_write. `conn` is unused here by design — the lock-free
        # stage write is what makes parallel partitions safe locally.
        database = kwargs.pop("_database")
        stage = self._stage_dir(database, name)
        os.makedirs(stage, exist_ok=True)
        pq.write_table(table, os.path.join(stage, f"part-{uuid.uuid4().hex}.parquet"))

    def create_table_if_absent(self, conn: Any, name: str, schema_ddl: str) -> None:
        conn.execute(f'CREATE TABLE IF NOT EXISTS "{name}" ({schema_ddl})')

    def truncate(self, conn: Any, name: str) -> None:
        conn.execute(f'DELETE FROM "{name}"')

    def finalize_write(self, table: str, connection_kwargs: dict[str, Any]) -> None:
        """COPY step: load all staged partition files, then clear the stage."""
        stage = self._stage_dir(connection_kwargs["database"], table)
        files = sorted(glob.glob(os.path.join(stage, "*.parquet")))
        if not files:
            return
        conn = self.connect(**{**connection_kwargs, "_conn_log": None})
        try:
            # match staged columns to the table by name, like the real
            # write_pandas COPY (MATCH_BY_COLUMN_NAME), not by position
            conn.execute(
                f'INSERT INTO "{table}" BY NAME SELECT * FROM read_parquet(?)', [files]
            )
        finally:
            conn.close()
        for f in files:
            os.remove(f)
        os.rmdir(stage)

    def close(self, conn: Any) -> None:
        conn.close()


class SnowflakeBackend:
    """The real warehouse backend; requires ``snowflake-connector-python``.

    Mirrors the reference exactly: capability checks before execute
    (core.py:141-142), result batches from the cursor (core.py:144),
    Arrow-batch type guard (core.py:280-285), rowcount>0 filter
    (core.py:146), ``write_pandas`` bulk load with upper-cased unquoted
    identifiers (core.py:31-40).
    """

    name = "snowflake"

    def connect(self, **kwargs: Any):
        import snowflake.connector

        _log_connection(kwargs)
        kwargs = {k: v for k, v in kwargs.items() if not k.startswith("_")}
        return snowflake.connector.connect(**kwargs)

    # snowflake-connector type_code -> best-effort Arrow type, used ONLY
    # for empty results (non-empty results take their schema from the
    # first Arrow batch). Keeps the schema-preserving empty-result
    # contract (SURVEY §1.3) on the real warehouse — without it an empty
    # SELECT came back as a ZERO-column DataFrame and any cast_map then
    # failed on "absent columns".
    _TYPE_CODE_TO_ARROW = {
        0: pa.decimal128(38, 0),  # FIXED
        1: pa.float64(),          # REAL
        2: pa.string(),           # TEXT
        3: pa.date32(),           # DATE
        4: pa.timestamp("us"),    # TIMESTAMP
        5: pa.string(),           # VARIANT
        6: pa.timestamp("us"),    # TIMESTAMP_LTZ
        7: pa.timestamp("us"),    # TIMESTAMP_TZ
        8: pa.timestamp("us"),    # TIMESTAMP_NTZ
        9: pa.string(),           # OBJECT
        10: pa.string(),          # ARRAY
        11: pa.binary(),          # BINARY
        12: pa.time64("us"),      # TIME
        13: pa.bool_(),           # BOOLEAN
    }

    def _arrow_type_for(self, d: Any) -> pa.DataType:
        """Arrow type for one cursor-description entry. FIXED (type_code
        0) carries precision/scale in the description (ResultMetadata
        fields 4/5) — use them so an EMPTY result of a FIXED(p, s>0)
        column gets the same decimal schema a non-empty read of the
        identical query derives from its first batch; (38, 0) is only
        the fallback when the connector omits them.

        Scale-0 split (ADVICE r9): the connector's NON-empty Arrow
        batches materialize NUMBER(p, 0) columns as integer Arrow types
        (it strips the decimal wrapper when scale is 0), so an empty
        decimal128(p, 0) schema would still disagree with a non-empty
        read of the same query. Map FIXED(p<=18, 0) to int64 — every
        such value fits, and int64 unifies with the batch-side
        int8/16/32/64 under Spark's LongType — and keep decimal128(p, 0)
        only for p > 18, where the connector itself must stay decimal.
        Residual: a p>18 scale-0 empty schema may still split from a
        batch-typed non-empty read if every value happens to fit an
        int64; that narrow case is accepted and pinned by the unit
        test."""
        if d[1] == 0:
            try:
                precision, scale = d[4], d[5]
                if precision is not None and scale is not None:
                    if int(scale) == 0 and int(precision) <= 18:
                        return pa.int64()
                    return pa.decimal128(int(precision), int(scale))
            except (IndexError, TypeError, ValueError):
                pass
        return self._TYPE_CODE_TO_ARROW.get(d[1], pa.string())

    def execute_batches(
        self, conn: Any, query: str, params: Any
    ) -> tuple[pa.Schema | None, list[ResultBatch]]:
        with conn.cursor() as cur:
            cur.check_can_use_pandas()
            cur.check_can_use_arrow_resultset()
            cur.execute(query, params)
            batches = cur.get_result_batches() or []
            try:
                schema = pa.schema(
                    [
                        (d[0], self._arrow_type_for(d))
                        for d in (cur.description or [])
                    ]
                )
            except Exception:
                schema = None  # description unavailable; batch schema wins
        bad = {type(b).__name__ for b in batches if "Arrow" not in type(b).__name__}
        if bad:
            raise RuntimeError(
                f"Received non-Arrow result batches ({bad}); ensure the "
                "session uses the ARROW result format"
            )
        kept = [b for b in batches if b.rowcount > 0]
        # a non-empty result's schema comes from its first batch (exact
        # warehouse types); the description-derived schema only covers
        # the empty case
        return (schema if not kept else None), kept

    def write_arrow(self, conn: Any, table: pa.Table, name: str, **kwargs: Any) -> None:
        from snowflake.connector.pandas_tools import write_pandas

        kwargs.pop("_database", None)
        # integer columns holding a null stay exact Python ints (object
        # dtype) instead of going through float64
        df = table.to_pandas(integer_object_nulls=True)
        write_pandas(conn, df, name, quote_identifiers=False, **kwargs)

    def create_table_if_absent(self, conn: Any, name: str, schema_ddl: str) -> None:
        conn.cursor().execute(f"CREATE TABLE IF NOT EXISTS {name} ({schema_ddl})")

    def truncate(self, conn: Any, name: str) -> None:
        conn.cursor().execute(f"TRUNCATE TABLE IF EXISTS {name}")

    def finalize_write(self, table: str, connection_kwargs: dict[str, Any]) -> None:
        pass  # write_pandas already COPYed each partition

    def close(self, conn: Any) -> None:
        conn.close()


_BACKENDS = {"duckdb": DuckDBBackend, "snowflake": SnowflakeBackend}


def resolve_backend(name: str):
    try:
        return _BACKENDS[name]()
    except KeyError:
        raise ValueError(f"Unknown warehouse backend {name!r}; known: {sorted(_BACKENDS)}")
