"""Per-task import-cache invalidation stays cheap in Python workers: a zip
archive's directory is re-read only when the archive changed."""

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

import kfts_insar_spark  # noqa: F401  (installs the lazy invalidation)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on sys.path, plus a list of the archives that
    ``zipimport._read_directory`` parses from then on."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(
        archive,
        {
            "zc_pkg/__init__.py": "",
            "zc_pkg/sub/__init__.py": "",
            "zc_pkg/sub/a.py": "VALUE = 'a'\n",
        },
    )
    monkeypatch.syspath_prepend(archive)
    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    for name in [m for m in sys.modules if m.split(".")[0] == "zc_pkg"]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]


def test_unchanged_archive_is_not_reparsed(zip_on_path):
    archive, reads = zip_on_path
    from zc_pkg.sub import a

    assert a.VALUE == "a"
    importers = [
        imp for key, imp in sys.path_importer_cache.items()
        if key.startswith(archive) and imp is not None
    ]
    assert len(importers) >= 2  # one per imported package level
    reads.clear()
    importlib.invalidate_caches()  # first sight of the archive reads it once
    assert reads.count(archive) <= 1
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads.count(archive) == 0


def test_archive_rewritten_in_place_is_reread(zip_on_path):
    archive, reads = zip_on_path
    from zc_pkg.sub import a

    importlib.invalidate_caches()
    _write_zip(  # same path and inode, new content
        archive,
        {
            "zc_pkg/__init__.py": "",
            "zc_pkg/sub/__init__.py": "",
            "zc_pkg/sub/a.py": "VALUE = 'a'\n",
            "zc_pkg/sub/b.py": "VALUE = 'b'\n",
        },
    )
    reads.clear()
    importlib.invalidate_caches()
    assert archive in reads
    from zc_pkg.sub import b

    assert (a.VALUE, b.VALUE) == ("a", "b")


def test_worker_invalidation_is_lazy(spark):
    """A worker that unpickles an engine function runs the lazy version."""
    from kfts_insar_spark.functions.codec import decode_values_lockstep

    def probe(batches):
        import zipimport

        assert decode_values_lockstep  # unpickling this imports the package
        cls = zipimport.zipimporter
        lazy = hasattr(cls, "_get_files") or (
            cls.invalidate_caches.__module__ == "kfts_insar_spark.zipcache"
        )
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"lazy": [lazy]})

    df = spark.range(4, numPartitions=4)
    assert [r.lazy for r in df.mapInArrow(probe, "lazy boolean").collect()] == [True] * 4
