"""The stat-checked ``zipimporter.invalidate_caches``: an unchanged archive
is read once however often the import caches are invalidated, a rewritten
archive is re-read, and a deleted one empties its importers."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import edspdf_spark._zipimport as engine_zipimport

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13 made zipimporter.invalidate_caches lazy upstream",
)


def _write_archive(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_archive(path, {"zpa.py": "X = 1\n", "zpkg/__init__.py": "", "zpkg/m.py": "Y = 2\n"})
    monkeypatch.syspath_prepend(path)
    importlib.invalidate_caches()
    yield path
    for name in ("zpa", "zpb", "zpkg", "zpkg.m"):
        sys.modules.pop(name, None)
    zipimport._zip_directory_cache.pop(path, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]


def _count_reads(monkeypatch):
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_engine_method_installed():
    assert zipimport.zipimporter.invalidate_caches is engine_zipimport.invalidate_caches


def test_unchanged_archive_read_at_most_once(archive, monkeypatch):
    importers = [zipimport.zipimporter(archive), zipimport.zipimporter(archive + "/zpkg")]
    calls = _count_reads(monkeypatch)
    for _ in range(5):
        importlib.invalidate_caches()
        for imp in importers:
            imp.invalidate_caches()
    assert calls.count(archive) <= 1
    assert all(imp._files is zipimport._zip_directory_cache[archive] for imp in importers)
    assert importlib.import_module("zpkg.m").Y == 2


def test_rewritten_archive_is_reread(archive, monkeypatch):
    importers = [zipimport.zipimporter(archive), zipimport.zipimporter(archive + "/zpkg")]
    importlib.invalidate_caches()
    assert importlib.import_module("zpa").X == 1
    _write_archive(archive, {"zpa.py": "X = 1\n", "zpb.py": "Z = 3\n"})
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    for imp in importers:
        imp.invalidate_caches()
    assert calls.count(archive) == 1
    assert importlib.import_module("zpb").Z == 3
    assert all("zpb.py" in imp._files for imp in importers)


def test_deleted_archive_empties_importers(archive, tmp_path):
    importers = [zipimport.zipimporter(archive), zipimport.zipimporter(archive + "/zpkg")]
    importlib.invalidate_caches()
    (tmp_path / "mods.zip").unlink()
    for imp in importers:
        imp.invalidate_caches()
        assert imp._files == {}
    assert archive not in zipimport._zip_directory_cache


def test_python_workers_use_engine_method(spark):
    """Every task of a job whose closure carries the engine runs the
    engine's method: unpickling the closure imports the package."""
    import pyarrow as pa

    import edspdf_spark
    from edspdf_spark.fixtures import build_pages_df
    from edspdf_spark.operators.extract import extract_blocs

    assert extract_blocs(build_pages_df(spark, 40, partitions=4)).count() > 0

    def report(batches, _engine=edspdf_spark):
        import zipimport

        for _ in batches:
            pass
        method = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pydict(
            {"engine": [method.__module__ == "edspdf_spark._zipimport"]}
        )

    flags = [
        r.engine
        for r in spark.range(8, numPartitions=4)
        .mapInArrow(report, "engine boolean")
        .collect()
    ]
    assert flags == [True] * 4
