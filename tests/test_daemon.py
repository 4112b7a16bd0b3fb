"""The worker daemon's zip importer: re-read an archive only when it
changed, and be the importer Python workers run under ``get_spark``."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from extract_kit_spark import daemon


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="the replacement is installed before 3.13 only")
def test_zip_reread_only_when_archive_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"ek_zipmod_a": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        daemon.invalidate_caches)
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("ek_zipmod_a").X == 1
        importlib.invalidate_caches()   # first call reads and stamps
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in reads     # unchanged: nothing re-read

        _write_zip(archive, {"ek_zipmod_a": "X = 1\n",
                             "ek_zipmod_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("ek_zipmod_b").Y == 2
    finally:
        for name in ("ek_zipmod_a", "ek_zipmod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_workers_run_under_the_daemon(spark):
    def importer_source(batches):  # nested, so it pickles by value
        import zipimport

        import pandas as pd
        for _ in batches:
            pass
        code = zipimport.zipimporter.invalidate_caches.__code__
        yield pd.DataFrame({"file": [code.co_filename]})

    row = spark.range(1, numPartitions=1).mapInPandas(
        importer_source, "file string").collect()[0]
    replaced = row["file"] == daemon.invalidate_caches.__code__.co_filename
    assert replaced == (sys.version_info < (3, 13))
