"""The engine's Python daemon re-reads a zip archive's directory only
when the archive changed (``worker_daemon``), and local sessions fork
their workers from it."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from no_fasel_scrapers_spark import worker_daemon


def _write_zip(path, members):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)
    os.replace(tmp, path)


@pytest.fixture
def reads(monkeypatch):
    """Archives whose directory the stock reader parsed, in call order,
    with the wrapper installed on top; both are undone afterwards."""
    out = []
    stock = zipimport._read_directory

    def counting(archive):
        out.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    worker_daemon.install()
    return out


@pytest.fixture
def archive(tmp_path):
    """A zip on sys.path holding a package and a top-level module, both
    imported, so it has two importers: one for the archive root, one for
    the package directory inside it."""
    path = str(tmp_path / "probe.zip")
    members = {
        "wd_probe_pkg/__init__.py": "",
        "wd_probe_pkg/a.py": "X = 1\n",
        "wd_probe_top.py": "Y = 2\n",
    }
    _write_zip(path, members)
    sys.path.insert(0, path)
    importlib.import_module("wd_probe_pkg.a")
    importlib.import_module("wd_probe_top")
    try:
        yield path, members
    finally:
        sys.path.remove(path)
        for name in list(sys.modules):
            if name.startswith("wd_probe_"):
                del sys.modules[name]
        for key in list(sys.path_importer_cache):
            if key.startswith(path):
                del sys.path_importer_cache[key]


def test_unchanged_archive_is_not_reread(reads, archive):
    path, _ = archive
    assert reads.count(path) == 1  # the first importer's read
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(path) == 1


def test_rewritten_archive_is_reread_and_new_members_import(reads, archive):
    path, members = archive
    _write_zip(path, {
        **members,
        "wd_probe_pkg/b.py": "Z = 3\n",
        "wd_probe_new.py": "W = 4\n",
    })
    reads.clear()
    importlib.invalidate_caches()
    # one read serves both importers of the archive
    assert reads.count(path) == 1
    assert importlib.import_module("wd_probe_pkg.b").Z == 3
    assert importlib.import_module("wd_probe_new").W == 4
    importlib.invalidate_caches()
    assert reads.count(path) == 1


def test_vanished_archive_falls_back_to_the_stock_reread(reads, archive):
    path, _ = archive
    os.remove(path)
    importlib.invalidate_caches()
    # both importers take the stock path, whose failed read empties them
    assert reads.count(path) == 3
    with pytest.raises(ImportError):
        importlib.import_module("wd_probe_gone")


def test_reused_worker_rereads_no_archive_between_tasks(spark):
    """Each single-partition job is one task; a worker reused by a later
    job reports how many directory reads happened since its first task
    (its counter wraps the daemon's reader, so it counts the stock
    invalidation too).  A worker that ran Spark's stock daemon would
    re-read every zip importer's archive before each task."""

    def probe(rows):
        # a worker that leaves input unread is not reused
        for _ in rows:
            pass
        count = getattr(zipimport, "_wd_probe_reads", None)
        if count is None:
            count = zipimport._wd_probe_reads = [0]
            inner = zipimport._read_directory

            def counting(archive):
                count[0] += 1
                return inner(archive)

            zipimport._read_directory = counting
        code = zipimport.zipimporter.invalidate_caches.__code__
        yield os.getpid(), os.path.basename(code.co_filename), count[0]

    # Spark hands idle workers out in turn, so a worker comes back once
    # every idle one has run a task: run jobs until one has run three
    sc = spark.sparkContext
    runs, by_pid = [], {}
    while len(runs) < 64 and max(map(len, by_pid.values()), default=0) < 3:
        pid, source, count = (
            sc.parallelize([0], 1).mapPartitions(probe).collect()[0]
        )
        runs.append((pid, source, count))
        by_pid.setdefault(pid, []).append(count)
    assert {r[1] for r in runs} == {"worker_daemon.py"}, runs
    reused = [c for c in by_pid.values() if len(c) > 1]
    assert reused, runs  # worker reuse is Spark's default
    assert all(c == [0] * len(c) for c in reused), runs
