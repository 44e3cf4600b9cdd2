"""Worker-side zip-directory cache (``konlspark._pyworker``)."""

import importlib
import os
import sys
import zipfile
import zipimport

from konlspark import _pyworker, codec


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)
    os.replace(tmp, path)  # a new inode, as a redeployed archive has


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zc_pkg/__init__.py": "",
                         "zc_pkg/mod_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    for mod in ("zc_pkg", "zc_pkg.mod_a", "zc_pkg.mod_b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    assert importlib.import_module("zc_pkg.mod_a").X == 1
    # two importers on one archive: the root and the zc_pkg/ sub-path
    assert sum(getattr(f, "archive", None) == archive
               for f in sys.path_importer_cache.values()) == 2

    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    assert len(reads) == 2  # stock: every importer re-reads, every call

    monkeypatch.delenv("PYTHON_WORKER_FACTORY_SECRET", raising=False)
    assert not _pyworker.install()  # not a worker: left untouched
    monkeypatch.setenv("PYTHON_WORKER_FACTORY_SECRET", "test")
    assert _pyworker.install()
    reads.clear()
    importlib.invalidate_caches()
    assert len(reads) <= 1  # at most one read to learn the signature
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []

    # a rewritten archive is re-read once, and its new module imports
    _write_zip(archive, {"zc_pkg/__init__.py": "",
                         "zc_pkg/mod_a.py": "X = 1\n",
                         "zc_pkg/mod_b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module("zc_pkg.mod_b").Y == 2


def test_python_stage_worker_has_zip_cache(spark):
    """A Python stage running a konlspark function runs in a worker with
    the cached ``invalidate_caches`` installed."""
    import pyarrow as pa

    def stage(batches):
        for b in batches:
            codec.decode_varint(b"")
            yield pa.RecordBatch.from_pydict({"impl": [
                zipimport.zipimporter.invalidate_caches.__module__]
                * b.num_rows})

    rows = (spark.range(0, 8, numPartitions=4)
            .mapInArrow(stage, "impl string").collect())
    assert len(rows) == 8
    assert {r["impl"] for r in rows} == {"konlspark._pyworker"}
