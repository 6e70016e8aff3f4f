"""The Python worker daemon ``get_spark`` installs, and the zip-import
re-read skip it applies before forking workers."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import datalake_brief_spark
from datalake_brief_spark import daemon

PATCHED = sys.version_info < (3, 13)
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(datalake_brief_spark.__file__)))


def test_workers_run_the_engine_daemon(spark):
    def probe(batches):
        for _ in batches:
            yield pd.DataFrame({
                "qualname": [zipimport.zipimporter.invalidate_caches.__qualname__],
                "path": ["\n".join(sys.path)],
            })

    row = spark.range(1, numPartitions=1).mapInPandas(probe, "qualname string, path string").first()
    if PATCHED:
        assert row.qualname == "skip_unchanged_zip_rereads.<locals>.invalidate_caches"
    else:
        assert row.qualname == "zipimporter.invalidate_caches"
    # sys.path[0] is the daemon's cwd; the package parent must also come from
    # spark.executorEnv.PYTHONPATH so workers import the engine from any cwd
    assert PACKAGE_PARENT in row.path.split("\n")[1:]


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.mark.skipif(not PATCHED, reason="CPython 3.13+ re-reads zip archives lazily")
def test_unchanged_zip_is_not_reread_and_changed_zip_is(tmp_path, monkeypatch):
    # restore the stock zipimport functions after the test
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    daemon.skip_unchanged_zip_rereads()

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zipstamp_a"])
    monkeypatch.syspath_prepend(archive)
    for name in ("zipstamp_a", "zipstamp_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zipstamp_a").NAME == "zipstamp_a"

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda a: reads.append(a) or read_directory(a))
    importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, ["zipstamp_a", "zipstamp_b"])
    importlib.invalidate_caches()
    assert archive in reads
    assert importlib.import_module("zipstamp_b").NAME == "zipstamp_b"
