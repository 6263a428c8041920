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
"""

from __future__ import annotations

import os
import uuid

import duckdb
import pytest

from dask_snowflake_spark.sources.backends import read_connection_log
from dask_snowflake_spark.sources.snowflake import read_snowflake, to_snowflake
from dask_snowflake_spark.plans.partitioning import parse_bytes, plan_partitions


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


def test_datasource_format_api(spark, warehouse):
    """The Python Data Source registration path:
    spark.read.format('snowflake_native') with JSON-encoded options."""
    import json

    df = (
        spark.read.format("snowflake_native")
        .option("query", "SELECT * FROM big WHERE id < 20000")
        .option("backend", "duckdb")
        .option("connection_kwargs", json.dumps({"database": warehouse["database"]}))
        .option("npartitions", "3")
        .load()
    )
    assert df.count() == 20000
    assert [f.name for f in df.schema.fields] == ["id", "x", "pad"]
    assert abs(df.rdd.getNumPartitions() - 3) <= 2


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


def test_datasource_reader_does_not_pickle_descriptors(spark):
    """The per-task pickled reader must carry only the schema: shipping
    the full descriptor list would send every partition's batches to
    every task (duckdb descriptors embed payload bytes)."""
    import pickle

    from dask_snowflake_spark.sources.snowflake import (
        _PlannedRead,
        _SnowflakeNativeReader,
    )
    import pyarrow as pa

    planned = _PlannedRead(
        spark_schema=None,
        arrow_schema=pa.schema([("x", pa.int64())]),
        groups=[[object()]],  # unpicklable on purpose: must not travel
    )
    reader = _SnowflakeNativeReader(planned)
    clone = pickle.loads(pickle.dumps(reader))
    assert clone._arrow_schema == planned.arrow_schema
    assert clone._groups is None


def test_datasource_does_not_pickle_descriptors_after_reader(warehouse):
    """Spark's per-task read function closes over the data source too, not
    just the reader: after reader() the data source must keep only the
    schema, or every task receives the whole result (44.8 MiB task
    binaries and a heap OOM at sf0.1 lineitem)."""
    import json
    import pickle

    from dask_snowflake_spark.sources.snowflake import SnowflakeNativeDataSource

    def pickled_size(limit: int) -> int:
        ds = SnowflakeNativeDataSource(
            {
                "query": f"SELECT * FROM big WHERE id < {limit}",
                "backend": "duckdb",
                "connection_kwargs": json.dumps({"database": warehouse["database"]}),
                "npartitions": "4",
            }
        )
        schema = ds.schema()
        reader = ds.reader(schema)
        assert reader.partitions()[0].batches  # descriptors went to the reader
        assert ds.schema() == schema
        return len(pickle.dumps(ds))

    small, large = pickled_size(10_000), pickled_size(99_999)
    assert abs(large - small) < 64, (small, large)


def test_datasource_reader_pickled_copy_partitions_raises(spark):
    """partitions() on a deserialized task-side copy must fail loudly —
    _groups=None means the descriptors were dropped on purpose; treating
    it as 'empty result' would silently read zero rows (ADVICE r8)."""
    import pickle

    import pyarrow as pa

    from dask_snowflake_spark.sources.snowflake import (
        _PlannedRead,
        _SnowflakeNativeReader,
    )

    planned = _PlannedRead(
        spark_schema=None,
        arrow_schema=pa.schema([("x", pa.int64())]),
        groups=[],
    )
    # the driver-side original with truly-empty groups: one empty partition
    assert len(_SnowflakeNativeReader(planned).partitions()) == 1
    clone = pickle.loads(pickle.dumps(_SnowflakeNativeReader(planned)))
    with pytest.raises(RuntimeError, match="deserialized reader copy"):
        clone.partitions()


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
