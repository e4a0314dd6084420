"""The engine's Python worker daemon (``traj_sim_spark_spark.daemon``).

Unit tests (no Spark) pin the patched ``zipimporter.invalidate_caches``:
an unchanged archive is not re-read, a rewritten one is re-read once, a
deleted one falls back to the stdlib behaviour. Spark tests pin that the
session starts its workers from the daemon and that a zip shipped with
``addPyFile`` after the workers started still imports.
"""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from traj_sim_spark_spark import daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@pytest.fixture
def zip_reads(monkeypatch, tmp_path):
    """(archive path, module-name prefix, read log): the engine's patch
    installed for this test only, and every directory read of the
    archive logged."""
    archive = str(tmp_path / "mods.zip")
    prefix = f"graft_zip_{uuid.uuid4().hex[:8]}"
    reads: list[str] = []
    stdlib_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stdlib_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", daemon.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    yield archive, prefix, reads
    for name in [m for m in sys.modules if m.startswith(prefix)]:
        del sys.modules[name]
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(zip_reads):
    archive, prefix, reads = zip_reads
    _write_zip(archive, {f"{prefix}_a": "X = 1\n"})
    assert importlib.import_module(f"{prefix}_a").X == 1
    importlib.invalidate_caches()  # records the archive's stamp
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread_once(zip_reads):
    archive, prefix, reads = zip_reads
    _write_zip(archive, {f"{prefix}_a": "X = 1\n"})
    importlib.import_module(f"{prefix}_a")
    importlib.invalidate_caches()

    # new size: a second module
    _write_zip(archive, {f"{prefix}_a": "X = 1\n", f"{prefix}_b": "Y = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module(f"{prefix}_b").Y == 2

    # same size, new mtime
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1


def test_deleted_archive_falls_back_to_stdlib(zip_reads):
    archive, prefix, reads = zip_reads
    _write_zip(archive, {f"{prefix}_a": "X = 1\n"})
    importlib.import_module(f"{prefix}_a")
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)

    os.remove(archive)
    reads.clear()
    importlib.invalidate_caches()  # the stdlib read fails and is caught
    importlib.invalidate_caches()
    assert len(reads) == 2  # no stamp to trust: every call reads
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache


def test_session_names_the_engine_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == daemon.__name__


def test_workers_run_the_patched_invalidate_caches(spark):
    def report(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame(
            {"mod": [zipimport.zipimporter.invalidate_caches.__module__]}
        )

    rows = spark.range(8).repartition(2).mapInPandas(report, "mod string")
    assert {r.mod for r in rows.collect()} == {daemon.__name__}


def test_add_py_file_after_workers_started_imports(spark, tmp_path):
    def probe(batches):
        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"v": [1]})

    # start (or reuse) the workers before the archive exists
    spark.range(4).repartition(2).mapInPandas(probe, "v long").collect()

    name = f"graft_shipped_{uuid.uuid4().hex[:8]}"
    archive = tmp_path / f"{name}.zip"
    _write_zip(archive, {name: "VALUE = 41\n"})
    spark.sparkContext.addPyFile(str(archive))

    def use(batches):
        import importlib

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"v": [importlib.import_module(name).VALUE + 1]})

    rows = spark.range(4).repartition(2).mapInPandas(use, "v long").collect()
    assert [r.v for r in rows] == [42, 42]
    sys.modules.pop(name, None)
