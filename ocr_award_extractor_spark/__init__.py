"""PySpark-native web-document extraction engine.

A from-scratch rebuild of the extraction semantics of
Gloridust/OCR-Award-Extractor (reference at /root/reference, read-only)
as a Spark-first, Common-Crawl-scale pipeline:

    Iceberg/parquet scan (partition-pruned on warc_ts)
      -> salted repartition (host-skew defuse)
      -> mapInArrow batched HTML parse + boilerplate strip + field extraction
      -> structured spans + lineage rows written back (resumable)

Layout:
    functions/   pure-Python kernels (field extraction, HTML->text, text stats)
    operators/   DataFrame-level operators (extract pipeline, dedup, similarity)
    sources/     table loaders + the deterministic web-page fixture generator
    plans/       lineage / resume planning (anti-join against committed splits)
    streaming/   optional Structured Streaming demo of the same extractor

Imported inside a Spark Python worker (an active TaskContext, which every
kernel pickled by reference brings about), the package also trims two
fixed costs that PySpark charges every task of a reused worker; drivers
and library users are left alone:

* ``_install_zip_stat_check``: on CPython < 3.12, ``pyspark.zip`` is
  not re-read by each task's ``importlib.invalidate_caches()``;
* ``_install_settled_heap_freeze``: the daemon's full ``gc.collect()``
  after each task stops walking the worker's module state (pandas,
  pyarrow, pyspark, the engine) once that state has settled.
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
    if _worker_task_context() is None:
        return
    import zipimport

    zipimport.zipimporter.invalidate_caches = _stat_checked(
        zipimport.zipimporter.invalidate_caches)


def _worker_task_context():
    """The TaskContext class when the package is being imported inside a
    Spark Python task, else None (a driver, a library user)."""
    taskcontext = _sys.modules.get("pyspark.taskcontext")
    if taskcontext is None or taskcontext.TaskContext.get() is None:
        return None
    return taskcontext.TaskContext


def _install_settled_heap_freeze() -> None:
    """Stop reused Spark Python workers paying a full GC between tasks.

    PySpark's daemon calls ``gc.collect()`` in a reused worker after every
    task (``pyspark/daemon.py``), and the next task, already handed to
    that worker, waits for it. A warmed worker tracks ~74k objects, almost
    all of them module state, and that collection took 41-119 ms on a
    4-core x86 host. This hook runs when a generation-2 collection stops
    with no task active (``pyspark.worker.main`` resets the TaskContext
    before it returns), which is that between-task collect, and moves
    what survived it to the permanent generation with ``gc.freeze()``, so
    later collects scan only objects made since (0.07-0.12 ms). It
    freezes again only when ``sys.modules`` has grown or shrunk since the
    last freeze, so a worker running the same kernels does not keep
    growing the permanent generation. Freezing at import instead would
    miss most of the state: this package is imported before pandas and a
    kernel's own modules are."""
    task_context = _worker_task_context()
    if task_context is None:
        return
    import gc

    frozen_at = None  # len(sys.modules) at the last freeze

    def freeze_settled_heap(phase, info):
        nonlocal frozen_at
        if (phase == "stop" and info["generation"] == 2
                and task_context.get() is None
                and len(_sys.modules) != frozen_at):
            frozen_at = len(_sys.modules)
            gc.freeze()

    gc.callbacks.append(freeze_settled_heap)


_install_zip_stat_check()
_install_settled_heap_freeze()
