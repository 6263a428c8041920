"""Connector-layer contract tests, porting the reference's test patterns
(/root/reference/dask_snowflake/tests/test_core.py) onto the duckdb
warehouse stub:

- write -> read roundtrip, order/dtype-insensitive (test_core.py:54-65)
- empty-result contract (test_core.py:68-80; schema-preserving deviation)
- parameterized queries (test_core.py:264-282)
- partition-size bound < 2x requested, npartitions within +/-2
  (test_core.py:294-319)
- lazy-write contract: nothing written until computed (test_core.py:83-103)
- overwrite mode (test_core.py:126-146)
- connection counts: write = npartitions + 1, read = 1 + npartitions'
  worth of fetches (test_core.py:149-261; adapted: our read fetches run
  inside Spark tasks against staged batches, so the read side makes ONE
  planning connection)
- partner-ID injection: default from conf, explicit wins
  (test_core.py:198-261)
- result references: stub descriptors name byte ranges of a staged file,
  stay small, outlive later reads, pin no storage memory, and the staged
  file is gone when the process exits
- exact writes: partitions reach the warehouse as Arrow, so a nullable
  BIGINT never goes through float64
"""

from __future__ import annotations

import datetime
import os
import pickle
import subprocess
import sys
import textwrap
import types
import uuid

import duckdb
import pyarrow as pa
import pytest

from dask_snowflake_spark.sources.backends import DuckDBBackend, read_connection_log
from dask_snowflake_spark.sources.snowflake import read_snowflake, to_snowflake
from dask_snowflake_spark.plans.partitioning import parse_bytes, plan_partitions

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def warehouse(tmp_path):
    db = str(tmp_path / "wh.duckdb")
    log = str(tmp_path / "conns.jsonl")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE ab (A BIGINT, B BIGINT)")
    con.execute("INSERT INTO ab SELECT i, i + 10 FROM range(10) t(i)")
    con.execute(
        "CREATE TABLE big AS SELECT i AS id, random() AS x, repeat('y', 64) AS pad "
        "FROM range(100000) t(i)"
    )
    con.close()
    return {"database": db, "_conn_log": log}


def test_roundtrip(spark, warehouse):
    df = read_snowflake("SELECT * FROM ab", spark=spark, connection_kwargs=warehouse, backend="duckdb")
    out = sorted(tuple(r) for r in df.collect())
    assert out == [(i, i + 10) for i in range(10)]


def test_write_then_read(spark, warehouse):
    sdf = spark.createDataFrame([(i, float(i) / 3) for i in range(1000)], "id long, v double")
    n = to_snowflake(sdf.repartition(4), "t_wr", connection_kwargs=warehouse, backend="duckdb")
    assert n == 1000
    back = read_snowflake('SELECT * FROM "T_WR"', spark=spark, connection_kwargs=warehouse, backend="duckdb")
    rows = sorted(tuple(r) for r in back.collect())
    assert len(rows) == 1000
    assert rows[:2] == [(0, 0.0), (1, 1 / 3)]


def test_empty_result_keeps_schema(spark, warehouse):
    df = read_snowflake(
        "SELECT * FROM ab WHERE A > 999", spark=spark, connection_kwargs=warehouse, backend="duckdb"
    )
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["A", "B"]


def test_parameterized_query(spark, warehouse):
    df = read_snowflake(
        "SELECT * FROM ab WHERE A = ?",
        spark=spark,
        connection_kwargs=warehouse,
        execute_params=[3],
        backend="duckdb",
    )
    assert [tuple(r) for r in df.collect()] == [(3, 13)]
    # a date binding: parameters are Python objects, not JSON strings
    df = read_snowflake(
        "SELECT * FROM ab WHERE A = ? AND ? = DATE '2024-01-02'",
        spark=spark,
        connection_kwargs=warehouse,
        execute_params=[4, datetime.date(2024, 1, 2)],
        backend="duckdb",
    )
    assert [tuple(r) for r in df.collect()] == [(4, 14)]


def test_cast_map_forces_float32(spark, warehouse):
    """The reference's arrow_options/types_mapper contract
    (core.py:218-220, test_core.py:106-123): force a DOUBLE result
    column to 32-bit float via cast_map; other columns keep their types."""
    df = read_snowflake(
        "SELECT A, B / 3.0 AS X FROM ab",
        spark=spark,
        connection_kwargs=warehouse,
        backend="duckdb",
        cast_map={"X": "float"},
    )
    types = dict(df.dtypes)
    assert types == {"A": "bigint", "X": "float"}, types
    assert df.count() == 10
    # empty result keeps both the schema and the cast
    empty = read_snowflake(
        "SELECT A, B / 3.0 AS X FROM ab WHERE A > 999",
        spark=spark,
        connection_kwargs=warehouse,
        backend="duckdb",
        cast_map={"X": "float"},
    )
    assert dict(empty.dtypes) == {"A": "bigint", "X": "float"}
    assert empty.count() == 0
    with pytest.raises(ValueError, match="absent columns"):
        read_snowflake(
            "SELECT A FROM ab",
            spark=spark,
            connection_kwargs=warehouse,
            backend="duckdb",
            cast_map={"nope": "float"},
        )


def test_npartitions_tolerance(spark, warehouse):
    df = read_snowflake(
        "SELECT * FROM big", spark=spark, connection_kwargs=warehouse, npartitions=4, backend="duckdb"
    )
    got = df.rdd.getNumPartitions()
    assert abs(got - 4) <= 2, got
    assert df.count() == 100000


def test_partition_size_bound(spark, warehouse):
    target = parse_bytes("2MiB")
    df = read_snowflake(
        "SELECT * FROM big",
        spark=spark,
        connection_kwargs=warehouse,
        partition_size="2MiB",
        backend="duckdb",
    )
    sizes = df.rdd.mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
    assert sum(sizes) == 100000
    # bytes/row estimated from the first batch; every partition < 2x target
    per_row = 8 + 8 + 64 + 16  # generous upper bound incl. overhead
    assert all(s * per_row < 2 * target for s in sizes), sizes


def test_both_sizing_kwargs_rejected(spark, warehouse):
    with pytest.raises(ValueError, match="not both"):
        read_snowflake(
            "SELECT 1",
            spark=spark,
            connection_kwargs=warehouse,
            npartitions=2,
            partition_size="1MiB",
            backend="duckdb",
        )


def test_lazy_write(spark, warehouse):
    sdf = spark.createDataFrame([(1, 2.0)], "id long, v double")
    lw = to_snowflake(sdf, "t_lazy", connection_kwargs=warehouse, compute=False, backend="duckdb")
    con = duckdb.connect(warehouse["database"])
    pre = con.execute(
        "SELECT count(*) FROM information_schema.tables WHERE table_name = 'T_LAZY'"
    ).fetchone()[0]
    con.close()
    assert pre == 0, "nothing may be written before compute()"
    assert lw.compute() == 1
    con = duckdb.connect(warehouse["database"])
    assert con.execute('SELECT count(*) FROM "T_LAZY"').fetchone()[0] == 1
    con.close()


def test_overwrite_mode(spark, warehouse):
    sdf = spark.createDataFrame([(i,) for i in range(5)], "id long")
    to_snowflake(sdf, "t_ow", connection_kwargs=warehouse, backend="duckdb")
    to_snowflake(
        sdf, "t_ow", connection_kwargs=warehouse, write_pandas_kwargs={"overwrite": True}, backend="duckdb"
    )
    back = read_snowflake('SELECT * FROM "T_OW"', spark=spark, connection_kwargs=warehouse, backend="duckdb")
    assert back.count() == 5  # not 10: overwrite replaced the first write


def test_telemetry_guard(spark, warehouse):
    with pytest.raises(ValueError, match="telemetry"):
        read_snowflake(
            "SELECT 1",
            spark=spark,
            connection_kwargs={**warehouse, "log_imported_packages_in_telemetry": True},
            backend="duckdb",
        )


def test_read_connection_count(spark, warehouse):
    """A read makes ONE warehouse connection, at planning, whatever the
    partition count: the fetch tasks decode descriptors and never connect."""
    before = len(read_connection_log(warehouse["_conn_log"]))
    df = read_snowflake(
        "SELECT * FROM big", spark=spark, connection_kwargs=warehouse, npartitions=4, backend="duckdb"
    )
    assert df.rdd.getNumPartitions() > 1
    assert df.count() == 100000
    assert len(read_connection_log(warehouse["_conn_log"])) == before + 1


def test_write_connection_count(spark, warehouse):
    """Reference contract: write makes npartitions + 1 connections
    (bootstrap + one per partition), test_core.py:162-170."""
    npart = 3
    sdf = spark.createDataFrame([(i,) for i in range(30)], "id long").repartition(npart)
    to_snowflake(sdf, "t_conn", connection_kwargs=warehouse, backend="duckdb")
    entries = read_connection_log(warehouse["_conn_log"])
    assert len(entries) == npart + 1, entries


def test_partner_id_default_and_explicit(spark, warehouse):
    read_snowflake("SELECT 1 AS x", spark=spark, connection_kwargs=warehouse, backend="duckdb")
    entries = read_connection_log(warehouse["_conn_log"])
    assert entries[-1]["application"] == "spark"  # conf default

    read_snowflake(
        "SELECT 1 AS x",
        spark=spark,
        connection_kwargs={**warehouse, "application": "my_app"},
        backend="duckdb",
    )
    entries = read_connection_log(warehouse["_conn_log"])
    assert entries[-1]["application"] == "my_app"  # explicit user value wins


def test_partner_id_from_conf(spark, warehouse):
    spark.conf.set("spark.snowflake.partner", "custom_partner")
    try:
        read_snowflake("SELECT 1 AS x", spark=spark, connection_kwargs=warehouse, backend="duckdb")
        entries = read_connection_log(warehouse["_conn_log"])
        assert entries[-1]["application"] == "custom_partner"
    finally:
        spark.conf.unset("spark.snowflake.partner")


# -- partition planner unit tests (pure python) -----------------------------


def test_parse_bytes():
    assert parse_bytes("100MiB") == 100 * 2**20
    assert parse_bytes("2 GB") == 2 * 10**9
    assert parse_bytes(1234) == 1234
    with pytest.raises(ValueError):
        parse_bytes("10 parsecs")


def test_plan_partitions_by_count():
    groups = plan_partitions([100] * 40, bytes_per_row=10, npartitions=4)
    assert abs(len(groups) - 4) <= 2
    assert sorted(i for g in groups for i in g) == list(range(40))


def test_plan_partitions_by_bytes():
    # 1000 batches x 100 rows x 10 B/row = 1 MB; 100KiB target -> ~10 groups
    groups = plan_partitions([100] * 1000, bytes_per_row=10, partition_size="100KiB")
    rows = [sum(100 for _ in g) for g in groups]
    assert all(r * 10 < 2 * parse_bytes("100KiB") for r in rows)


def test_plan_partitions_oversized_batch_isolated():
    groups = plan_partitions([5, 1000, 5], bytes_per_row=1, npartitions=3)
    assert [1] in groups  # the huge batch forms its own group


def test_plan_partitions_validation():
    with pytest.raises(ValueError):
        plan_partitions([1], bytes_per_row=1, npartitions=2, partition_size="1MiB")
    assert plan_partitions([], bytes_per_row=1) == []


def test_read_bad_sql_raises_cleanly(spark, warehouse):
    with pytest.raises(Exception) as ei:
        read_snowflake("SELECT * FROM nonexistent_tbl", spark=spark, connection_kwargs=warehouse, backend="duckdb")
    assert "nonexistent_tbl" in str(ei.value)


def test_unknown_backend_rejected(spark, warehouse):
    with pytest.raises(ValueError, match="Unknown warehouse backend"):
        read_snowflake("SELECT 1", spark=spark, connection_kwargs=warehouse, backend="oracle9i")


def test_write_appends_across_calls(spark, warehouse):
    sdf = spark.createDataFrame([(i,) for i in range(5)], "id long")
    to_snowflake(sdf, "t_app", connection_kwargs=warehouse, backend="duckdb")
    to_snowflake(sdf, "t_app", connection_kwargs=warehouse, backend="duckdb")
    back = read_snowflake('SELECT * FROM "T_APP"', spark=spark, connection_kwargs=warehouse, backend="duckdb")
    assert back.count() == 10  # default mode is append (reference write_pandas semantics)
    # staged columns match the table by name, like write_pandas' COPY
    ab = spark.createDataFrame([(1, 10), (2, 11)], "A long, B long")
    to_snowflake(ab, "t_app2", connection_kwargs=warehouse, backend="duckdb")
    to_snowflake(ab.select("B", "A"), "t_app2", connection_kwargs=warehouse, backend="duckdb")
    back = read_snowflake('SELECT A, B FROM "T_APP2"', spark=spark, connection_kwargs=warehouse, backend="duckdb")
    assert sorted(tuple(r) for r in back.collect()) == [(1, 10), (1, 10), (2, 11), (2, 11)]


def test_ddl_rejects_unsafe_identifiers(spark, warehouse):
    sdf = spark.createDataFrame([(1,)], "id long").withColumnRenamed("id", "order")
    with pytest.raises(ValueError, match="unquoted"):
        to_snowflake(sdf, "t_bad", connection_kwargs=warehouse, backend="duckdb")
    both = spark.createDataFrame([(1, 2)], "a long, A long")
    with pytest.raises(ValueError, match="collide"):
        to_snowflake(both, "t_dup", connection_kwargs=warehouse, backend="duckdb")


def test_to_snowflake_requires_file_database(spark):
    """Every duckdb :memory: connection is a fresh empty database — the
    DDL bootstrap, the staged partitions, and the final COPY would each
    see a different vanishing warehouse. Previously this returned a
    positive rows-written count with the data silently absent; now it
    refuses up front."""
    import pytest

    from dask_snowflake_spark import to_snowflake

    df = spark.range(3).withColumnRenamed("id", "v")
    with pytest.raises(ValueError, match="file 'database'"):
        to_snowflake(df, "t_nodb", connection_kwargs={}, backend="duckdb")


def test_schema_to_ddl_rejects_complex_types(spark):
    """array/map/struct must fail at DDL time with a clear message, not
    stage nested parquet against a silent VARCHAR column and die (or
    stringify) at the COPY step after every partition was written."""
    import pytest
    from pyspark.sql import functions as F

    from dask_snowflake_spark.sources.snowflake import schema_to_ddl

    df = spark.range(1).select(F.array(F.col("id")).alias("ids"))
    with pytest.raises(ValueError, match="cannot map"):
        schema_to_ddl(df.schema)


def test_snowflake_backend_fixed_type_uses_description_scale():
    """FIXED (type_code 0) empty-result schema must honor the cursor
    description's precision/scale: an empty NUMBER(10,2) column must
    not come back as decimal128(38, 0) and disagree with the
    batch-derived schema of non-empty reads (ADVICE r8)."""
    import pyarrow as pa

    from dask_snowflake_spark.sources.backends import SnowflakeBackend

    b = SnowflakeBackend()
    # ResultMetadata shape: (name, type_code, display_size,
    # internal_size, precision, scale, is_nullable)
    assert b._arrow_type_for(("amt", 0, None, None, 10, 2, True)) == pa.decimal128(10, 2)
    # scale-0 split (ADVICE r9): non-empty NUMBER(p,0) batches arrive as
    # integer Arrow types, so small-p scale-0 empties map to int64 to
    # match; p > 18 stays decimal (the connector itself must, too) —
    # that narrow case is the documented accepted residual.
    assert b._arrow_type_for(("n", 0, None, None, 10, 0, True)) == pa.int64()
    assert b._arrow_type_for(("n", 0, None, None, 18, 0, True)) == pa.int64()
    assert b._arrow_type_for(("n", 0, None, None, 19, 0, True)) == pa.decimal128(19, 0)
    assert b._arrow_type_for(("n", 0, None, None, 38, 0, True)) == pa.decimal128(38, 0)
    # connector omits precision/scale -> documented fallback
    assert b._arrow_type_for(("n", 0, None, None, None, None, True)) == pa.decimal128(38, 0)
    # short description tuple -> fallback, no crash
    assert b._arrow_type_for(("n", 0)) == pa.decimal128(38, 0)
    # non-FIXED codes unaffected
    assert b._arrow_type_for(("s", 2, None, None, None, None, True)) == pa.string()


# bigints float64 rounds (to 9007199254740992 and -(2**62)) next to a
# null, which is what sends a pandas conversion through float64
EXACT_BIGINTS = [2**53 + 1, None, -(2**62) + 7]


def test_write_bigint_with_null_is_exact(spark, warehouse):
    sdf = spark.createDataFrame([(v,) for v in EXACT_BIGINTS], "v long").coalesce(1)
    assert to_snowflake(sdf, "t_exact", connection_kwargs=warehouse, backend="duckdb") == 3
    con = duckdb.connect(warehouse["database"])
    try:
        rows = con.execute('SELECT V FROM "T_EXACT"').fetchall()
    finally:
        con.close()
    assert sorted(rows, key=str) == sorted([(v,) for v in EXACT_BIGINTS], key=str)


def test_snowflake_backend_write_arrow_keeps_int64(monkeypatch):
    """The real backend hands write_pandas a frame whose nullable integer
    column still holds the exact values (object dtype, not float64)."""
    from dask_snowflake_spark.sources.backends import SnowflakeBackend

    seen = {}

    def write_pandas(conn, df, name, **kwargs):
        seen.update(conn=conn, df=df, name=name, kwargs=kwargs)

    fake = types.ModuleType("snowflake.connector.pandas_tools")
    fake.write_pandas = write_pandas
    monkeypatch.setitem(sys.modules, "snowflake.connector.pandas_tools", fake)
    table = pa.table({"V": pa.array(EXACT_BIGINTS, pa.int64()), "S": ["a", None, "c"]})
    SnowflakeBackend().write_arrow("conn", table, "T", _database=None, chunk_size=7)
    assert seen["name"] == "T" and seen["conn"] == "conn"
    assert seen["kwargs"] == {"quote_identifiers": False, "chunk_size": 7}
    back = pa.Table.from_pandas(seen["df"], preserve_index=False)
    assert back.column("V").type == pa.int64()
    assert back.column("V").to_pylist() == EXACT_BIGINTS
    assert back.column("S").to_pylist() == ["a", None, "c"]


def _stub_read(database, query):
    be = DuckDBBackend()
    conn = be.connect(database=database)
    try:
        return be.execute_batches(conn, query, None)[1]
    finally:
        be.close(conn)


def test_read_descriptors_are_small_references(warehouse):
    """A stub descriptor names a byte range of one staged IPC file; the
    descriptor list of a 100k-row read pickles to a few KB, not the data."""
    batches = _stub_read(warehouse["database"], "SELECT * FROM big")
    assert len(batches) > 1
    assert len(pickle.dumps(batches)) < 64 * 1024
    assert {b.path for b in batches} == {batches[0].path}
    assert sum(b.length for b in batches) == os.path.getsize(batches[0].path)
    table = pa.concat_tables(b.to_arrow() for b in batches)
    assert table.num_rows == sum(b.rowcount for b in batches) == 100000
    assert table.column("id").to_pylist() == list(range(100000))


def test_earlier_read_survives_later_reads(spark, warehouse):
    from dask_snowflake_spark.session import release_caches

    first = read_snowflake("SELECT * FROM ab", spark=spark, connection_kwargs=warehouse, backend="duckdb")
    for i in range(5):
        later = read_snowflake(
            "SELECT * FROM big WHERE id < ?",
            spark=spark,
            connection_kwargs=warehouse,
            execute_params=[1000 * (i + 1)],
            npartitions=2,
            backend="duckdb",
        )
        assert later.count() == 1000 * (i + 1)
        release_caches()  # what each registry table lookup does
    assert sorted(tuple(r) for r in first.collect()) == [(i, i + 10) for i in range(10)]


def _storage_used(spark) -> int:
    status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().valuesIterator()
    used = 0
    while status.hasNext():
        max_and_remaining = status.next()
        used += max_and_remaining._1() - max_and_remaining._2()
    return used


def test_repeated_reads_do_not_pin_storage_memory(spark, warehouse):
    """Ten reads of the 100k-row table leave storage memory where one
    read left it: no read pins its result bytes in the block manager."""

    def read():
        df = read_snowflake(
            "SELECT * FROM big", spark=spark, connection_kwargs=warehouse, npartitions=4, backend="duckdb"
        )
        assert df.count() == 100000

    read()
    used_after_one = _storage_used(spark)
    for _ in range(9):
        read()
    assert _storage_used(spark) - used_after_one < 5 * 2**20


def test_staged_results_removed_at_exit(tmp_path, warehouse):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    code = textwrap.dedent(
        f"""
        import os, sys
        sys.path.insert(0, {REPO!r})
        from tests.test_connector import _stub_read
        batches = _stub_read({warehouse["database"]!r}, "SELECT * FROM big")
        assert os.path.getsize(batches[0].path) > 0
        print(batches[0].path)
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        env={**os.environ, "TMPDIR": str(tmp)},
        capture_output=True,
        text=True,
        check=True,
    )
    staged = out.stdout.strip().splitlines()[-1]
    assert os.path.dirname(staged) == str(tmp)
    assert os.listdir(tmp) == []


def test_layer_probe_counts_stub_batches(spark, warehouse, monkeypatch):
    """perfbench's traced run reads the stub's descriptors through
    ``LayerProbe``: its batch count and payload bytes must match what the
    stub staged."""
    monkeypatch.syspath_prepend(os.path.join(REPO, "perfbench"))
    from tracing import LayerProbe

    staged = []
    execute = DuckDBBackend.execute_batches

    def recording(self, conn, query, params):
        schema, batches = execute(self, conn, query, params)
        staged.extend(batches)
        return schema, batches

    monkeypatch.setattr(DuckDBBackend, "execute_batches", recording)
    with LayerProbe() as probe:
        df = read_snowflake(
            "SELECT * FROM big", spark=spark, connection_kwargs=warehouse, npartitions=4, backend="duckdb"
        )
    assert df.count() == 100000
    assert probe.totals["warehouse.batches"] == len(staged) > 1
    assert probe.totals["warehouse.payload_mb"] == sum(b.length for b in staged) / 2**20
    assert sum(b.length for b in staged) == os.path.getsize(staged[0].path)
    assert probe.totals["partitioning.groups"] == df.rdd.getNumPartitions()
