"""dedup_spark.session: the stat-checked ``zipimporter.invalidate_caches``.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task; before CPython 3.13 that re-read every zip archive on ``sys.path``
(``pyspark.zip`` once per package importer). The engine's wrapper skips
the re-read while the archive file is unchanged."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import dedup_spark.session  # noqa: F401 — installs the wrapper


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    zpath = str(tmp_path / "mods.zip")
    _write_zip(zpath, ["m1"])
    monkeypatch.syspath_prepend(zpath)
    yield zpath
    for name in ("m1", "m2"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(zpath, None)


def _count_reads(monkeypatch, zpath):
    reads = []
    read = zipimport._read_directory

    def counting(archive):
        if archive == zpath:
            reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13 invalidates zip caches lazily"
)
def test_unchanged_zip_is_not_reread(zip_on_path, monkeypatch):
    import m1

    assert m1.NAME == "m1"
    importlib.invalidate_caches()  # an importer's first call reads
    reads = _count_reads(monkeypatch, zip_on_path)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_zip_is_reread(zip_on_path, monkeypatch):
    import m1

    assert m1.NAME == "m1"
    importlib.invalidate_caches()
    _write_zip(zip_on_path, ["m1", "m2"])
    importlib.invalidate_caches()
    import m2

    assert m2.NAME == "m2"


def test_removed_zip_falls_through(zip_on_path):
    import m1

    assert m1.NAME == "m1"
    importlib.invalidate_caches()
    os.remove(zip_on_path)
    importlib.invalidate_caches()  # stat fails: the original empties the index
    with pytest.raises(ImportError):
        import m2  # noqa: F401


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13 invalidates zip caches lazily"
)
def test_python_workers_install_the_wrapper(spark):
    """Every engine UDF's by-reference globals import ``dedup_spark``;
    that import must leave the wrapper installed in each Python worker,
    not only in the Spark driver process."""

    def probe(it):
        import zipimport

        import dedup_spark  # noqa: F401

        for _ in it:
            pass
        fn = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame(
            {"module": [fn.__module__], "pid": [os.getpid()]}
        )

    rows = (
        spark.range(0, 4, 1, numPartitions=4)
        .mapInPandas(probe, "module string, pid long")
        .collect()
    )
    assert len(rows) == 4
    assert {r["module"] for r in rows} == {"dedup_spark.session"}
