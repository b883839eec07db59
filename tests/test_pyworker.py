"""The Python daemon entry (tippecanoe_spark/pyworker.py): a zipimporter
re-reads its archive only when the archive changed, and local sessions
start their workers through it without losing ``addPyFile``."""

from __future__ import annotations

import importlib.util
import os
import sys
import zipfile
import zipimport

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tippecanoe_spark import pyworker


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_zipimporter_rereads_only_changed_archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"mod_a": "V = 1\n"})
    imp = zipimport.zipimporter(path)

    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: (p == path and reads.append(p)) or real(p))

    assert zipimport.zipimporter.invalidate_caches is pyworker.invalidate_caches
    imp.invalidate_caches()     # a new importer always reads once
    assert len(reads) == 1
    for _ in range(3):
        imp.invalidate_caches()
    assert len(reads) == 1      # unchanged archive: no re-read

    _write_zip(path, {"mod_a": "V = 1\n", "mod_b": "V = 2\n"})
    st = os.stat(path)
    # a coarse-mtime filesystem could keep the old mtime: bump it
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    imp.invalidate_caches()
    assert len(reads) == 2
    spec = imp.find_spec("mod_b")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.V == 2

    os.remove(path)
    imp.invalidate_caches()     # a failing stat always re-reads
    imp.invalidate_caches()
    assert len(reads) == 4


@pytest.fixture(scope="module")
def spark():
    from tippecanoe_spark.session import get_spark

    yield get_spark(master="local[2]", shuffle_partitions=4)


def _in_task(spark, fn):
    """Run fn() inside a mapInPandas task; returns its string result."""
    import pandas as pd

    def probe(it):
        for _ in it:
            yield pd.DataFrame({"r": [fn()]})

    return [r["r"] for r in spark.range(1, numPartitions=1)
            .mapInPandas(probe, schema="r string").collect()]


def test_local_workers_use_entry_and_keep_addpyfile(spark, tmp_path):
    def patched_by():
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__module__

    assert _in_task(spark, patched_by) == ["tippecanoe_spark.pyworker"]

    # a module zip shipped after the workers started imports in a later task
    name = "ts_pyworker_probe_mod"
    path = str(tmp_path / f"{name}.zip")
    _write_zip(path, {name: "VALUE = 'shipped'\n"})
    spark.sparkContext.addPyFile(path)

    def shipped():
        import importlib

        return importlib.import_module(name).VALUE

    assert _in_task(spark, shipped) == ["shipped"]
