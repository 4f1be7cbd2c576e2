"""The engine's Python worker daemon: a zip archive's directory is re-read
only when the archive changed, and the workers of a ``get_spark`` session
run that rule without losing pyspark's ``addPyFile`` import path."""

import importlib
import os
import sys
import time
import zipfile
import zipimport

from vstream_spark import worker_daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_archive_reread_only_when_its_stamp_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"m1": "VALUE = 1\n"})
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("m1").VALUE == 1
        importlib.invalidate_caches()  # the first invalidation stamps the archive
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        # a rewrite in place (new size) is re-read, and its new module imports
        _write_zip(archive, {"m1": "VALUE = 1\n", "m2": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("m2").VALUE == 2

        # a rewrite in place at the same size that restores the mtime (as
        # ``cp -p`` does) moves the ctime, so it is re-read; the sleep lets
        # a coarse ctime clock tick past the last read's stamp
        before = os.stat(archive)
        time.sleep(0.05)
        _write_zip(archive, {"m1": "VALUE = 1\n", "m3": "VALUE = 3\n"})
        os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns))
        assert os.stat(archive).st_size == before.st_size
        reads.clear()
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("m3").VALUE == 3

        # a same-size copy with the mtime kept, renamed over the archive
        # (as ``rsync -t`` does), is a new inode, so it is re-read
        before = os.stat(archive)
        copy = str(tmp_path / "mods.zip.tmp")
        _write_zip(copy, {"m1": "VALUE = 1\n", "m4": "VALUE = 4\n"})
        os.utime(copy, ns=(before.st_atime_ns, before.st_mtime_ns))
        os.replace(copy, archive)
        assert os.stat(archive).st_size == before.st_size
        reads.clear()
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("m4").VALUE == 4
    finally:
        for name in ("m1", "m2", "m3", "m4"):
            sys.modules.pop(name, None)


def test_workers_run_the_rule_and_import_an_added_zip(spark, tmp_path):
    sc = spark.sparkContext

    def importer_rules(_):
        zips = [f for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)]
        yield len(zips), {type(f).invalidate_caches.__module__ for f in zips}

    # the workers are started, and import pyspark from zip archives
    rules = sc.parallelize(range(2), 2).mapPartitions(importer_rules).collect()
    for n_zips, modules in rules:
        assert n_zips > 0
        assert modules == {"vstream_spark.worker_daemon"}

    archive = tmp_path / "worker_daemon_added_probe.zip"
    _write_zip(archive, {"worker_daemon_added_probe": "VALUE = 41\n"})
    sc.addPyFile(str(archive))

    def use_added(rows):
        import worker_daemon_added_probe

        for r in rows:
            yield r + worker_daemon_added_probe.VALUE

    assert sc.parallelize([1], 1).mapPartitions(use_added).collect() == [42]
