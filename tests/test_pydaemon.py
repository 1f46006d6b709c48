"""The Python worker daemon's stat-gated zipimport invalidation."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from mriya_spark import pydaemon


def _write_zpkg(archive, modules):
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        for m in modules:
            z.writestr(f"zpkg/{m}.py", f"NAME = {m!r}\n")


def test_gated_invalidate_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zpkg(archive, ["a"])
    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches
    )
    monkeypatch.setattr(pydaemon, "_last_read", {})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zpkg.a").NAME == "a"
        importlib.invalidate_caches()  # first sight: one read, recorded
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []  # unchanged archive: never re-read

        _write_zpkg(archive, ["a", "b"])  # rewritten: new size
        importlib.invalidate_caches()
        assert reads  # re-read
        assert importlib.import_module("zpkg.b").NAME == "b"
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []  # and gated again from the new stamp
    finally:
        for name in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)


def test_python_workers_run_gated_invalidate(spark):
    """``get_spark`` starts Python workers from ``mriya_spark.pydaemon``,
    so a task's worker runs the gated ``invalidate_caches``."""

    def probe(batches):
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        code = zipimport.zipimporter.invalidate_caches.__code__
        yield pa.RecordBatch.from_pydict({"src": [code.co_filename]})

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "mriya_spark.pydaemon"
    got = spark.range(1, numPartitions=1).mapInArrow(probe, "src string").collect()
    assert got[0].src.endswith(os.path.join("mriya_spark", "pydaemon.py")), got
