"""The stat-checked ``zipimporter.invalidate_caches`` that the package
installs in Spark's Python workers (``_stat_checked_zip_rereads``):
an unchanged archive is not re-read, a changed one is, and only a
worker gets it."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import extract_kit_spark

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches re-reads nothing on 3.13+")


def test_unchanged_zip_is_not_reread_and_a_rewritten_one_is(
        tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"

    def write(**modules):
        with zipfile.ZipFile(archive, "w") as z:
            for name, src in modules.items():
                z.writestr(f"{name}.py", src)

    write(ekzip_a="X = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    # the test process keeps the stdlib method once the test is over
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path)
                        or read_directory(path))
    try:
        assert importlib.import_module("ekzip_a").X == 1
        reads.clear()
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1  # the stdlib re-reads

        extract_kit_spark._stat_checked_zip_rereads()
        extract_kit_spark._stat_checked_zip_rereads()  # once per process
        assert zipimport.zipimporter.invalidate_caches.stat_checked
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert str(archive) not in reads

        write(ekzip_a="X = 1\n", ekzip_b="Y = 2\n")  # same path, same inode
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1
        assert importlib.import_module("ekzip_b").Y == 2
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1
    finally:
        for name in ("ekzip_a", "ekzip_b"):
            sys.modules.pop(name, None)


def test_reused_worker_rereads_no_archive(spark):
    def probe(batches):
        import os
        import zipimport as zi
        import extract_kit_spark  # noqa: F401  (installs in a task)
        read = zi._read_directory
        if hasattr(read, "calls"):
            since = read.calls  # archive reads since this worker's last probe
        else:
            def read_counted(path, _read=read):
                read_counted.calls += 1
                return _read(path)
            zi._read_directory = read_counted
            read = read_counted
            since = -1
        for _ in batches:
            pass
        read.calls = 0
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "stat_checked": [bool(getattr(zi.zipimporter.invalidate_caches,
                                          "stat_checked", False))],
            "reads": [since]})

    df = spark.range(4, numPartitions=4).mapInPandas(
        probe, "pid long, stat_checked boolean, reads long")
    rows = [r for _ in range(4) for r in df.collect()]
    assert all(r.stat_checked for r in rows)
    reused = [r for r in rows if r.reads >= 0]
    assert reused, "no Python worker ran a second probe"
    assert [r.reads for r in reused] == [0] * len(reused)
    # the driver (this process) keeps the stdlib method
    assert not hasattr(zipimport.zipimporter.invalidate_caches,
                       "stat_checked")
