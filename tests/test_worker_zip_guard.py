"""Pins for the workers' stat-guarded zip-import invalidation
(``solace_apache_beam_spark._guard_zip_invalidation``) and for the
atomic rebuild of the package zip that ``sources.solace.register`` ships
to them."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

import pandas as pd
import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh interpreter so this process's zipimport is never patched.
_SEMANTICS_SCRIPT = textwrap.dedent(
    """
    import importlib, os, sys, zipfile, zipimport
    from pyspark import TaskContext
    import solace_apache_beam_spark as pkg

    original = zipimport.zipimporter.invalidate_caches
    assert not getattr(original, "_stat_guarded", False), "installed on the driver"

    TaskContext._getOrCreate()  # what a task's worker has set
    real_version = sys.version_info
    sys.version_info = (3, 13, 0)
    pkg._guard_zip_invalidation()
    sys.version_info = real_version
    assert zipimport.zipimporter.invalidate_caches is original, "installed on 3.13"

    pkg._guard_zip_invalidation()
    guarded = zipimport.zipimporter.invalidate_caches
    assert guarded._stat_guarded
    pkg._guard_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is guarded, "not idempotent"

    reads = []
    read_directory = zipimport._read_directory
    def counted(archive):
        reads.append(archive)
        return read_directory(archive)
    zipimport._read_directory = counted

    def build(path, modules):
        with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as zf:
            for name, body in modules.items():
                zf.writestr(zipfile.ZipInfo(name + ".py"), body)

    archive = os.path.join(sys.argv[1], "mods.zip")
    build(archive, {"a": "V = 1\\n"})
    sys.path.insert(0, archive)
    import a
    assert a.V == 1

    importlib.invalidate_caches()  # stamps every importer
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == [], f"unchanged archive re-read: {reads}"

    build(archive, {"a": "V = 1\\n", "b": "V = 2\\n"})  # rewritten in place
    importlib.invalidate_caches()
    assert reads, "rewritten archive not re-read"
    assert importlib.import_module("b").V == 2

    # replaced by one of the same size and mtime: only the inode differs
    st = os.stat(archive)
    fresh = archive + ".new"
    build(fresh, {"a": "V = 1\\n", "c": "V = 3\\n"})
    assert os.path.getsize(fresh) == st.st_size
    os.utime(fresh, ns=(st.st_atime_ns, st.st_mtime_ns))
    os.replace(fresh, archive)
    reads.clear()
    importlib.invalidate_caches()
    assert reads, "replaced archive not re-read"
    assert importlib.import_module("c").V == 3

    # deleted, then restored as the same inode (size and mtime too)
    keep = archive + ".keep"
    os.link(archive, keep)
    os.remove(archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    os.link(keep, archive)
    importlib.invalidate_caches()
    del sys.modules["c"]
    assert importlib.import_module("c").V == 3, "restored archive not re-read"

    # a zipped package's __path__ gets a second importer on the archive:
    # one read serves both after a change, none while it is unchanged
    package = {"a": "V = 1\\n", "p/__init__": "", "p/m": "V = 4\\n"}
    build(archive, package)
    importlib.invalidate_caches()
    assert importlib.import_module("p.m").V == 4
    on_archive = [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]
    assert len(on_archive) == 2, on_archive
    build(archive, {**package, "d": ""})
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [archive], f"one read per changed archive: {reads}"
    assert all("d.py" in f._files for f in on_archive)
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [], f"unchanged archive re-read: {reads}"
    print("ok")
    """
)


def test_zip_guard_semantics(tmp_path):
    """Installed only in a task's worker and before 3.13, idempotent;
    an unchanged archive is read once, a rewritten or replaced one is
    re-read, a deleted one does not crash and is re-read once restored,
    and importers sharing an archive share its one read."""
    out = subprocess.run(
        [sys.executable, "-c", _SEMANTICS_SCRIPT, str(tmp_path)],
        cwd=REPO_ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0 and out.stdout.strip() == "ok", out.stderr


def test_live_worker_invalidation_reads_no_archive(spark):
    """In a live Python worker that has imported the package, the
    per-task ``importlib.invalidate_caches()`` re-reads no archive
    directory (unguarded, each call re-reads the Spark jar and
    pyspark.zip). A task can land on a worker that has not imported the
    package yet; the probe imports it and calls the invalidation once,
    as the next task start would, before counting."""
    from pyspark.sql.functions import pandas_udf

    from solace_apache_beam_spark.llm.dedup import _shingle_hash_udf

    words = spark.createDataFrame(
        [(["a", "b", "c", "d"],), (["b", "c", "d", "e"],)], "w array<string>"
    ).repartition(4)
    assert words.select(_shingle_hash_udf(3)("w").alias("h")).count() == 2

    @pandas_udf("array<long>")
    def probe(ids: pd.Series) -> pd.Series:
        import importlib
        import sys
        import zipimport

        import solace_apache_beam_spark  # noqa: F401

        importlib.invalidate_caches()
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        reads = []
        read_directory = zipimport._read_directory

        def counted(archive):
            reads.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        return pd.Series([[len(reads), zips]] * len(ids))

    # one row per partition, so one probe per task
    got = [r.r for r in spark.range(0, 4, 1, 4).select(probe("id").alias("r")).collect()]
    assert len(got) == 4
    if not any(zips for _reads, zips in got):
        pytest.skip("no zip archive on the workers' path: nothing to guard")
    assert [reads for reads, _zips in got] == [0] * 4, got


def test_package_zip_rebuild_is_atomic(tmp_path, monkeypatch):
    """A rebuild that fails midway leaves the previous zip byte-identical
    at its path and no temp file behind; one that succeeds replaces it
    with a new file."""
    from solace_apache_beam_spark.sources.solace import _write_zip_atomically

    pkg = tmp_path / "pkg"
    pkg.mkdir()
    sources = []
    for name in ("a", "b", "c"):
        (pkg / f"{name}.py").write_text(f"NAME = {name!r}\n")
        sources.append(str(pkg / f"{name}.py"))
    zip_path = str(tmp_path / ".solace_pkg.zip")
    _write_zip_atomically(zip_path, sources[:1], str(tmp_path))
    before = open(zip_path, "rb").read()
    inode = os.stat(zip_path).st_ino

    real_write = zipfile.ZipFile.write
    calls = []

    def failing_write(self, *args, **kwargs):
        calls.append(args)
        if len(calls) == 2:
            raise OSError("disk full")
        return real_write(self, *args, **kwargs)

    monkeypatch.setattr(zipfile.ZipFile, "write", failing_write)
    with pytest.raises(OSError, match="disk full"):
        _write_zip_atomically(zip_path, sources, str(tmp_path))
    monkeypatch.undo()

    assert open(zip_path, "rb").read() == before
    assert sorted(os.listdir(tmp_path)) == [".solace_pkg.zip", "pkg"]

    _write_zip_atomically(zip_path, sources, str(tmp_path))
    with zipfile.ZipFile(zip_path) as zf:
        assert sorted(zf.namelist()) == ["pkg/a.py", "pkg/b.py", "pkg/c.py"]
    assert os.stat(zip_path).st_ino != inode
    assert sorted(os.listdir(tmp_path)) == [".solace_pkg.zip", "pkg"]


def test_package_zip_goes_stale_when_a_module_is_deleted(tmp_path):
    """Deleting a module makes the zip stale although no remaining source
    is newer than it; the rebuilt zip lacks the module, and an unchanged
    tree does not rebuild."""
    from solace_apache_beam_spark.sources.solace import _refresh_pkg_zip

    pkg = tmp_path / "pkg"
    (pkg / "sub").mkdir(parents=True)
    for rel in ("__init__.py", "a.py", "sub/__init__.py", "sub/b.py"):
        (pkg / rel).write_text("")
    zip_path = str(tmp_path / ".solace_pkg.zip")
    assert _refresh_pkg_zip(str(pkg), zip_path)
    assert not _refresh_pkg_zip(str(pkg), zip_path)

    os.remove(pkg / "sub" / "b.py")
    assert _refresh_pkg_zip(str(pkg), zip_path)
    with zipfile.ZipFile(zip_path) as zf:
        assert sorted(zf.namelist()) == [
            "pkg/__init__.py",
            "pkg/a.py",
            "pkg/sub/__init__.py",
        ]
    assert not _refresh_pkg_zip(str(pkg), zip_path)
