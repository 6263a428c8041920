"""SparkSession factory + catalog bootstrap.

Engine defaults chosen for correctness-vs-oracle and 100 TB posture:

- AQE on (runtime coalesce, skew-join splitting) — at cluster scale the
  static shuffle-partition count is always wrong for some stage; AQE
  re-plans per-stage from actual map output sizes.
- Arrow on for every Python<->JVM hop (the reference is Arrow end-to-end:
  /root/reference/dask_snowflake/core.py:127-130).
- Session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle (naive-UTC) and are cluster-invariant.
- `spark.sql.shuffle.partitions` defaults to ~cores locally; on a real
  cluster AQE's coalesce makes the initial number mostly a ceiling.
- Generated-code cache sized to the working set
  (:data:`CODEGEN_CACHE_ENTRIES`). Spark keeps only 100 compiled
  whole-stage classes by default, but the iterative operators generate
  more than that per pass: the four llm_pipeline benchmark operators
  241 distinct classes, one sweep of the whole registry about 4,200 (at
  sf0.01 and at sf0.1 alike). With 100 entries every repeated plan
  recompiles every class with Janino, on the driver and in every task;
  with the working set cached a steady-state pass of those operators
  compiles none.
- Spark 4's DataFrame-debugging wrapper off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  every ``functions.*``/``Column``/``DataFrame`` call captures its Python
  call site through extra py4j round trips: about twice the calls per
  operator (the four llm_pipeline benchmark operators made 3,178,
  1,825, 3,059 and 6,101 calls per run with it on, 1,921, 1,118, 1,367
  and 2,756 with it off), and those operators spend most of their wall
  between tiny jobs. What an error message loses is the Python call-site
  block; the message itself is unchanged. Division by zero, with the
  wrapper on::

      [DIVIDE_BY_ZERO] Division by zero. ... SQLSTATE: 22012
      == DataFrame ==
      "__truediv__" was called from
      example.py:9

  and off::

      [DIVIDE_BY_ZERO] Division by zero. ... SQLSTATE: 22012
      == DataFrame ==
      "divide" was called from
      java.base/jdk.internal.reflect.NativeMethodAccessorImpl.invoke0(Native Method)

  The conf is static: a session someone else built keeps its own
  setting.

The TESTDATA tables (TPC-H-ish star schema + events/documents/embeddings,
see TESTDATA.md) are registered as temp views so the relational layer can
be driven by SQL or DataFrame interchangeably.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

# Tables the driver materializes at /root/testdata/sf*/ (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Compiled-class cache size (`spark.sql.codegen.cache.maxEntries`, a
# static conf, Spark default 100): the smallest power of two above one
# registry sweep's working set, so every repeated plan reuses its
# generated classes. Each entry holds its class's full generated source.
CODEGEN_CACHE_ENTRIES = 8192


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_session(app_name: str = "dask_snowflake_spark") -> SparkSession:
    """Build (or reuse) the engine SparkSession with engine defaults,
    with this package shipped to executors (:func:`_ensure_runtime_confs`)."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        # parquet timestamp[ns] fixtures: read without rebase surprises
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # parquet timestamp[ns] (events.ts): read as long, convert below —
        # Spark has no native nanos timestamp (SPARK-40819)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if SparkSession.getActiveSession() is None:
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ensure_runtime_confs(spark)
    return spark


# Persisted intermediates handed back to callers inside lazy plans.
# Operators persist twice-read subtrees (LSH band keys, normalized
# vectors, TF term counts); the plan is materialized AFTER the operator
# returns, so the operator can't unpersist in a finally.  Tracking each
# persist here and releasing at the next query's table lookup keeps a
# long-lived session (the grading driver's 78-query sweep) from
# accumulating every query's cache in storage memory.
_LIVE_CACHES: list[DataFrame] = []


def track_cache(df: DataFrame) -> DataFrame:
    """``persist()`` a DataFrame and register it for :func:`release_caches`.

    Use for intermediates that out-live the operator call (the caller
    materializes the returned plan).  Fully-consumed caches (e.g. the
    k-means training base) should keep the local try/finally pattern
    instead."""
    df.persist()
    _LIVE_CACHES.append(df)
    return df


def release_caches() -> None:
    """Unpersist every tracked intermediate from prior queries."""
    while _LIVE_CACHES:
        df = _LIVE_CACHES.pop()
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped; nothing to free


def checkpoint_observed(df: DataFrame, *metrics: Column) -> tuple[DataFrame, dict]:
    """``localCheckpoint(eager=True)`` ``df`` and return the named
    aggregates ``metrics`` over its rows, both from the same job.

    An iterative loop's control scalar (a frontier size, an alive count,
    a max to renormalize by) would otherwise cost its own action after
    the checkpoint. Here each task of the checkpoint job folds a partial
    aggregate and the driver merges them (``df.observe``). The observe
    node is the top of the checkpointed plan, so it runs in the result
    stage, where Spark applies each task's update once even when a task
    is retried. Over no rows a ``count`` reads 0 and a ``max`` None."""
    obs = Observation()
    return df.observe(obs, *metrics).localCheckpoint(eager=True), obs.get


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one TESTDATA table. Plain parquet scan: Catalyst pushes
    filters/column pruning into it for free.

    timestamp[ns] columns (events.ts) arrive as nanosecond longs (see
    nanosAsLong conf) and are truncated to microsecond timestamps with
    integer division — bit-identical to DuckDB's ns->us truncation, and a
    pure JVM-side projection on top of the scan.
    """
    _ensure_runtime_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    for field_name in _nanos_timestamp_cols(path):
        df = df.withColumn(
            field_name, F.timestamp_micros(F.expr(f"`{field_name}` div 1000"))
        )
    return df


def _ensure_runtime_confs(spark: SparkSession) -> None:
    """Make a caller-provided SparkSession (e.g. the grading driver's,
    built without our defaults) behave like :func:`get_session`:

    - set the runtime-settable confs correctness depends on (static
      engine defaults such as the codegen cache size and the
      DataFrame-debugging wrapper cannot be set on a running session, so
      a session someone else built keeps its own);
    - ship this package to executors via ``addPyFile`` — module-level
      functions (stateful update fns, batch descriptors, decode
      kernels) pickle BY REFERENCE, so executor Python workers must be
      able to ``import dask_snowflake_spark`` whatever the driver's cwd
      and import path."""
    for key, value in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED"),
        ("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED"),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # static conf on this build; session defaults apply
    try:
        # Spark's 200-partition default over-parallelizes local mode
        # (200 shuffle files + 200 streaming state stores per stateful
        # op). Right-size it ONLY when still at the untouched default —
        # an explicit caller choice is respected.
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))
    except Exception:
        pass
    _ensure_executor_package(spark)


def scratch_root() -> str:
    """The repo's ``.tmp`` directory, created on first use: the one home
    of the executor package zip, the warehouse-stub databases and the
    file-sink queries' output."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")
    os.makedirs(path, exist_ok=True)
    return path


def _ensure_executor_package(spark: SparkSession) -> None:
    """``addPyFile`` a zip of this package, rebuilt whenever a source
    file is newer than it — otherwise executors silently import stale
    code after an edit. Workers put the zip first on ``sys.path``."""
    import uuid
    import zipfile

    sc = spark.sparkContext
    if getattr(sc, "_dss_pyfile_added", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(scratch_root(), "dask_snowflake_spark_pkg.zip")
    newest_src = max(
        (
            os.path.getmtime(os.path.join(root, f))
            for root, _dirs, files in os.walk(pkg_dir)
            for f in files
            if f.endswith(".py")
        ),
        default=0.0,
    )
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < newest_src:
        # per-process temp name: two concurrent sessions (bench +
        # pytest after a source edit) both rebuilding a stale zip
        # would interleave writes into one shared '.part' file and
        # os.replace a corrupt archive into place
        part = f"{zip_path}.{os.getpid()}.{uuid.uuid4().hex}.part"
        with zipfile.ZipFile(part, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
        os.replace(part, zip_path)
    sc.addPyFile(zip_path)
    sc._dss_pyfile_added = True


def _nanos_timestamp_cols(path: str) -> list[str]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        schema = pq.read_schema(path)
    except Exception:
        return []
    return [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


# One (sf_dir, tables) entry per live session (weakly keyed, so a
# recycled id() can never alias a new session): the tables the last
# :func:`register_tables` call bound. Temp-view NAMES are session-global,
# so there is exactly one bound dir per session; a different sf_dir must
# re-register, and the cached DataFrames must be the ones built for the
# bound dir.
_REGISTERED: "weakref.WeakKeyDictionary[SparkSession, tuple[str, dict[str, DataFrame]]]" = (
    weakref.WeakKeyDictionary()
)


def register_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every TESTDATA table at `sf_dir` as a temp view.

    Returns the name -> DataFrame mapping. Views are lazy; nothing is
    scanned until a query runs. The mapping is what
    :func:`registered_tables` hands out afterwards.
    """
    out: dict[str, DataFrame] = {}
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    _REGISTERED[spark] = (sf_dir, out)
    return out


def registered_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The tables bound for `sf_dir` in this session, registering them
    first unless :func:`register_tables` already did."""
    cached = _REGISTERED.get(spark)
    if cached is None or cached[0] != sf_dir:
        return register_tables(spark, sf_dir)
    return cached[1]
