"""The worker daemon (``pydaemon.py``): a Python task does not re-read the
zip archives on ``sys.path`` unless one of them changed on disk."""

import importlib
import os
import sys
import zipfile
import zipimport

from nemsis_xml_parser_spark import pydaemon  # noqa: F401  (installs the stamp)


def test_worker_task_reads_no_archive_directory(spark):
    """PySpark's worker calls ``importlib.invalidate_caches()`` for every
    task; with unchanged archives that call reads none of them."""

    def count_directory_reads(_):
        """In a worker: how many archive directories one
        ``importlib.invalidate_caches()`` reads, and how many zip importers
        the worker holds.  Nested, so that it is pickled by value."""
        import importlib
        import sys
        import zipimport

        read = zipimport._read_directory
        calls = []

        def counting(archive):
            calls.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        importers = sum(isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values())
        yield len(calls), importers

    out = (spark.sparkContext.parallelize(range(4), 4)
           .mapPartitions(count_directory_reads).collect())
    assert len(out) == 4
    assert all(importers > 0 for _, importers in out), out
    assert [calls for calls, _ in out] == [0, 0, 0, 0]


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, source in members.items():
            z.writestr(name, source)


def test_changed_archive_is_read_again_by_every_importer(tmp_path, monkeypatch):
    """An unchanged archive is not read; a rewritten one is read again by
    each importer of it, the root one and one with a prefix."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zs_m1.py": "X = 1\n", "sub/zs_s1.py": "X = 1\n"})
    entries = [archive, os.path.join(archive, "sub")]
    names = ["zs_m1", "zs_s1", "zs_m2", "zs_s2"]
    try:
        sys.path[:0] = entries
        import zs_m1  # noqa: F401
        import zs_s1  # noqa: F401
        importers = [sys.path_importer_cache[e] for e in entries]
        assert all(isinstance(i, zipimport.zipimporter) for i in importers)
        importlib.invalidate_caches()

        read = zipimport._read_directory
        calls = []
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda a: calls.append(a) or read(a))
        importlib.invalidate_caches()
        assert calls == []

        _write_zip(archive, {"zs_m1.py": "X = 1\n", "sub/zs_s1.py": "X = 1\n",
                             "zs_m2.py": "X = 2\n", "sub/zs_s2.py": "X = 2\n"})
        importlib.invalidate_caches()
        assert calls.count(archive) >= 2
        import zs_m2
        import zs_s2
        assert (zs_m2.X, zs_s2.X) == (2, 2)
        assert zs_m2.__loader__ is importers[0]
        assert zs_s2.__loader__ is importers[1]
    finally:
        for e in entries:
            if e in sys.path:
                sys.path.remove(e)
            sys.path_importer_cache.pop(e, None)
        for n in names:
            sys.modules.pop(n, None)
