"""PySpark-native web-document extraction engine.

A from-scratch rebuild of the extraction semantics of
Gloridust/OCR-Award-Extractor (reference at /root/reference, read-only)
as a Spark-first, Common-Crawl-scale pipeline:

    Iceberg/parquet scan (partition-pruned on warc_ts)
      -> salted repartition (host-skew defuse)
      -> mapInPandas batched HTML parse + boilerplate strip + field extraction
      -> structured spans + lineage rows written back (resumable)

Layout:
    functions/   pure-Python kernels (field extraction, HTML->text, text stats)
    operators/   DataFrame-level operators (extract pipeline, dedup, similarity)
    sources/     table loaders + the deterministic web-page fixture generator
    plans/       lineage / resume planning (anti-join against committed splits)
    streaming/   optional Structured Streaming demo of the same extractor
"""

__version__ = "0.1.0"

import os as _os
import sys as _sys


def _stat_checked(reread):
    """Wrap ``zipimporter.invalidate_caches`` (``reread``) so an archive's
    central directory is re-read only when its ``(st_ino, st_size,
    st_mtime_ns)`` differs from the last read. ``build_pyfiles_zip``
    swaps the engine zip in with ``os.replace``, so a rebuilt zip has a
    new inode and is re-read; a missing archive goes through ``reread``,
    which empties the importer without raising."""
    import zipimport

    stamps = {}

    def invalidate_caches(self):
        try:
            st = _os.stat(self.archive)
        except OSError:
            reread(self)  # drops the archive's cached directory too
            return
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            # another importer over the same archive may have re-read it
            self._files = files
            return
        reread(self)
        stamps[self.archive] = stamp

    return invalidate_caches


def _install_zip_stat_check() -> None:
    """Stop Spark Python workers re-reading pyspark.zip on every task.

    Each task calls ``importlib.invalidate_caches()``
    (``pyspark.worker_util.setup_spark_files``). On CPython 3.11 every
    cached ``zipimporter`` then eagerly re-reads its archive's central
    directory: 16-24 importers, mostly subpackages of pyspark.zip (1,328
    entries), so on a 4-core x86 host a reused worker paid 0.2-0.5 s per
    task before the kernel ran. CPython 3.12 made the re-read lazy
    (gh-103200); this whole function is dead once the interpreter floor
    reaches 3.12. Every kernel pickled by reference imports this package
    in the worker, so installing here covers them all. Driver processes
    and library users are left alone: the gate is an active TaskContext
    at import time."""
    if _sys.implementation.name != "cpython" or _sys.version_info >= (3, 12):
        return
    taskcontext = _sys.modules.get("pyspark.taskcontext")
    if taskcontext is None or taskcontext.TaskContext.get() is None:
        return
    import zipimport

    zipimport.zipimporter.invalidate_caches = _stat_checked(
        zipimport.zipimporter.invalidate_caches)


_install_zip_stat_check()
