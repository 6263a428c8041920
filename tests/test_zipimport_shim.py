"""The stat-gated ``zipimporter.invalidate_caches`` shim
(``dask_snowflake_spark._zipimport``).

A Spark Python worker calls ``importlib.invalidate_caches()`` before every
task; on CPython < 3.13 each zipimporter then re-parses its whole archive
directory. The shim re-reads an archive only when its stat signature
changed. These tests pin that an unchanged archive is not re-read, a
rewritten one is, the shim never stacks, and reused Spark workers carry
it after importing the package from the ``addPyFile`` zip — which is how
every worker imports the package.
"""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from dask_snowflake_spark import _zipimport

lazy_stdlib = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13+ zipimport is already lazy"
)


@pytest.fixture
def shim(monkeypatch):
    """Install the shim for one test; teardown restores the stdlib method
    and the signature table."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(_zipimport, "_SIGNATURES", {})
    assert _zipimport.install()


@pytest.fixture
def zipped_pkg(tmp_path, monkeypatch):
    """A package imported from a zip on sys.path; yields (zip path,
    package name, read counter for that archive)."""
    name = f"zshim_{uuid.uuid4().hex[:8]}"
    archive = str(tmp_path / "pkg.zip")
    _write_zip(archive, name, {"a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)

    reads = {"n": 0}
    original = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads["n"] += 1
        return original(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.import_module(f"{name}.a")
    yield archive, name, reads
    for mod in [m for m in sys.modules if m == name or m.startswith(name + ".")]:
        del sys.modules[mod]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


def _write_zip(archive: str, pkg: str, modules: dict[str, str]) -> None:
    part = archive + ".part"
    with zipfile.ZipFile(part, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "")
        for fname, src in modules.items():
            zf.writestr(f"{pkg}/{fname}", src)
    os.replace(part, archive)  # new inode, like the addPyFile zip rebuild


@lazy_stdlib
def test_unchanged_archive_is_not_reread(shim, zipped_pkg):
    archive, _name, reads = zipped_pkg
    importers = [k for k in sys.path_importer_cache if k.startswith(archive)]
    assert len(importers) >= 2  # the archive root and the package directory

    before = reads["n"]
    importlib.invalidate_caches()
    assert reads["n"] == before + 1  # one read serves every importer
    importlib.invalidate_caches()
    assert reads["n"] == before + 1


@lazy_stdlib
def test_rewritten_archive_is_reread(shim, zipped_pkg):
    archive, name, reads = zipped_pkg
    importlib.invalidate_caches()
    before = reads["n"]

    _write_zip(archive, name, {"a.py": "X = 1\n", "b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads["n"] == before + 1
    assert importlib.import_module(f"{name}.b").Y == 2


@lazy_stdlib
def test_removed_archive_clears_like_stdlib(shim, zipped_pkg):
    archive, name, _reads = zipped_pkg
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    assert archive not in _zipimport._SIGNATURES
    assert sys.path_importer_cache[archive]._files == {}


@lazy_stdlib
def test_install_is_idempotent(shim):
    wrapped = zipimport.zipimporter.invalidate_caches
    assert _zipimport.install()
    assert zipimport.zipimporter.invalidate_caches is wrapped
    assert not getattr(wrapped.__wrapped__, "_stat_gated", False)


def test_driver_process_keeps_stdlib(monkeypatch):
    monkeypatch.delenv("PYTHON_WORKER_FACTORY_SECRET", raising=False)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    assert not _zipimport.install_in_worker()
    assert not getattr(zipimport.zipimporter.invalidate_caches, "_stat_gated", False)


@lazy_stdlib
def test_reused_workers_carry_the_shim(spark):
    """Every task of a many-partition Python stage runs in a worker whose
    zipimporters are stat-gated once the task has imported the package,
    with the addPyFile package zip on that worker's sys.path, like
    connector fetch tasks."""
    import pyarrow as pa

    from dask_snowflake_spark.session import _ensure_executor_package

    _ensure_executor_package(spark)
    n = 2 * spark.sparkContext.defaultParallelism

    def probe(batches):
        import os
        import sys
        import zipimport

        import dask_snowflake_spark  # noqa: F401 — installs the shim

        for _ in batches:
            pass
        gated = getattr(zipimport.zipimporter.invalidate_caches, "_stat_gated", False)
        pkg_zip = any(p.endswith("dask_snowflake_spark_pkg.zip") for p in sys.path)
        yield pa.RecordBatch.from_pydict(
            {"gated": [bool(gated)], "pkg_zip": [pkg_zip], "pid": [os.getpid()]}
        )

    rows = (
        spark.range(0, n, numPartitions=n)
        .mapInArrow(probe, "gated boolean, pkg_zip boolean, pid long")
        .collect()
    )
    assert len(rows) == n
    assert all(r.gated for r in rows)
    assert all(r.pkg_zip for r in rows)
    assert len({r.pid for r in rows}) < n  # workers were reused across tasks


_FRESH_SESSION_UDF = """
import sys
sys.path.insert(0, sys.argv[1])
from dask_snowflake_spark.operators.multimodal import decode_metadata
from dask_snowflake_spark.session import get_session

spark = get_session("zip-only")
df = spark.createDataFrame([(1, b"abc")], "doc_id long, asset binary")
print(decode_metadata(df).collect())
spark.stop()
"""


def test_get_session_ships_package_to_workers_without_import_path(tmp_path):
    """The ``addPyFile`` zip is the package's only route to executors:
    from a non-repo cwd with PYTHONPATH unset, a Python UDF that pickles
    a package function by reference runs right after ``get_session``,
    before any table is loaded."""
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _FRESH_SESSION_UDF, repo],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "codec='synthetic'" in out.stdout, out.stdout
