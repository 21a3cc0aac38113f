"""solace_apache_beam_spark — a PySpark-native analytics engine.

Re-expresses the data-processing surface of the reference repo
``gurusudhanshu/solace-apache-beam`` (a Beam ``UnboundedSource`` connector
for Solace PubSub+ plus sample pipelines) as an idiomatic Spark engine:

- batch operator library over the message-envelope data model
  (``operators/``, mirrors SURVEY.md §2),
- a custom PySpark streaming ``DataSource`` with partition-per-queue,
  commit-time ack and bounded modes (``sources/``, mirrors
  ``SolaceIO.java`` / ``UnboundedSolaceReader.java``),
- streaming pipelines + windowed-file / warehouse sinks (``streaming/``,
  ``sinks/``, mirrors the samples),
- LLM-data-pipeline operators: dedup, similarity search, text analysis,
  multimodal columns (``llm/``), designed partition-parallel for
  100 TB-scale inputs.

Everything is DataFrame/SQL-first so Catalyst handles pushdown, pruning,
join strategy, AQE and codegen; Python UDFs appear only where built-ins
cannot express the semantics (Arrow-batched, never per-row).
"""

__version__ = "0.1.0"

import os as _os

# Python workers (custom DataSource / UDF deserialization) import this
# package by name; make sure the repo root is on PYTHONPATH before any
# SparkSession (and its JVM) is created. That import also stat-guards
# the workers' per-task zip-import invalidation (_guard_zip_invalidation).
_repo_root = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
_pp = _os.environ.get("PYTHONPATH", "")
if _repo_root not in _pp.split(_os.pathsep):
    _os.environ["PYTHONPATH"] = f"{_repo_root}{_os.pathsep}{_pp}" if _pp else _repo_root


def _guard_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when the archive changed.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``pyspark.worker_util.setup_spark_files``). Before
    Python 3.13 that makes every cached ``zipimporter`` re-parse its
    archive's whole directory in pure Python. A worker's path holds the
    Spark core jar (~5,400 entries) and ``pyspark.zip`` (~1,300) through
    some sixteen importers, so each task paid 225-413 ms of CPU before
    running anything. The guarded method stamps each archive path with
    its ``(st_ino, st_size, st_mtime_ns)`` when it reads the directory;
    while the stamp matches, every importer on that archive takes the
    shared ``_zip_directory_cache`` entry, and an archive rewritten in
    place or replaced is re-read; when the stat fails it defers to the
    original method. It is installed only inside a task's Python worker,
    so the driver's import machinery is untouched, and only before 3.13,
    where the invalidation is lazy. Installing twice is a no-op.
    """
    import sys
    import zipimport

    from pyspark import TaskContext

    original = zipimport.zipimporter.invalidate_caches
    if (
        sys.version_info >= (3, 13)
        or TaskContext.get() is None
        or getattr(original, "_stat_guarded", False)
    ):
        return

    read_stamps = {}  # archive -> stamp its _zip_directory_cache entry was read at

    def invalidate_caches(self):
        try:
            st = _os.stat(self.archive)
        except OSError:
            read_stamps.pop(self.archive, None)
            return original(self)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if cached is not None and read_stamps.get(self.archive) == stamp:
            self._files = cached
        else:
            original(self)
            read_stamps[self.archive] = stamp

    invalidate_caches._stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_guard_zip_invalidation()

from solace_apache_beam_spark.session import get_spark  # noqa: F401,E402
