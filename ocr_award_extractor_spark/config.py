"""SparkSession construction + job configuration.

One place to encode the scale-sensitive settings so every entry point
(tests, bench, driver contract) runs the same way:

* AQE on — runtime coalescing/skew handling for the relational operators.
* Arrow on, with a LOW ``maxRecordsPerBatch``: the ``html`` column is
  MBs/row at Common-Crawl scale, so Arrow batches must be bounded by rows,
  not left at the 10k default (SURVEY.md §7.4 trap 3).
* ``files.maxPartitionBytes`` kept moderate so scan splits stay balanced
  when rows are fat.

On a real cluster the same builder is used by ``spark-submit --py-files``;
only ``master`` changes. Iceberg catalog configs would be added here (the
sandbox has no Iceberg jars — parquet + lineage-dataset fallback is the
live path, see plans/lineage.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

SALT_SEED = 1315423911  # fixed salt for the skew-defusing repartition

DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
    "spark.sql.files.maxPartitionBytes": "64m",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ensure_worker_pythonpath() -> None:
    """Python workers are forked by the JVM and do NOT inherit the driver's
    sys.path — make the package importable in workers regardless of cwd
    (the local-mode analog of ``spark-submit --py-files engine.zip``).
    Must run before the JVM starts."""
    parts = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if _PKG_PARENT not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join([_PKG_PARENT] + [p for p in parts if p])


import threading as _threading  # noqa: E402
import weakref as _weakref  # noqa: E402

# contexts the package has been shipped to: every session on one context
# (newSession() clones included) shares its workers, and a weak set
# forgets a context once it is gone instead of keeping an id that a new
# object could reuse
_shipped_contexts: _weakref.WeakSet = _weakref.WeakSet()
# one ship per context even under concurrent driver threads (two jobs
# submitted from threads sharing a session both reach
# ensure_package_on_workers)
_ship_lock = _threading.Lock()


def find_spark_submit() -> str | None:
    """Path of a spark-submit launcher, preferring the one bundled with
    the installed pyspark (version-matched with the library); None when
    neither exists. Shared by the deploy-path test and the scaling
    study so missing-binary behavior can't drift between them."""
    import shutil

    import pyspark

    bundled = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if os.path.exists(bundled):
        return bundled
    return shutil.which("spark-submit")


def build_pyfiles_zip(zip_path: str | None = None) -> str:
    """Zip the package's .py files, and the C source its native library
    (the HTML segmenter) is built from
    (``functions/_segscan.c``), into the artifact
    a cluster user ships with ``spark-submit --py-files engine.zip``
    (SURVEY §7 deploy line). Shared by ``ensure_package_on_workers``
    (runtime addPyFile analog) and the literal spark-submit subprocess
    test."""
    import zipfile

    import os as _os
    import threading
    import uuid

    pkg_dir = os.path.join(_PKG_PARENT, "ocr_award_extractor_spark")
    if zip_path is None:
        zip_path = os.path.join(_PKG_PARENT, "fixtures", "_pkg_pyfiles.zip")
    os.makedirs(os.path.dirname(zip_path), exist_ok=True)
    # unique tmp per builder: concurrent callers (e.g. two driver threads
    # both triggering ensure_package_on_workers) must
    # not fight over one tmp name — each builds its own and the atomic
    # os.replace is last-writer-wins on identical content
    tmp = f"{zip_path}.{_os.getpid()}-{threading.get_ident()}-{uuid.uuid4().hex[:6]}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith((".py", ".c")):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.relpath(full, _PKG_PARENT))
    os.replace(tmp, zip_path)
    return zip_path


def ensure_package_on_workers(spark) -> None:
    """Make the package importable in executor Python workers of ANY
    session — including sessions we didn't build (the external driver
    contract). Zips the package once and ships it via addPyFile, the
    runtime equivalent of ``spark-submit --py-files``. Idempotent per
    SparkContext, so a session's ``newSession()`` clones ship nothing."""
    sc = spark.sparkContext
    if sc in _shipped_contexts:
        return
    with _ship_lock:
        if sc in _shipped_contexts:
            return
        if not os.path.isdir(os.path.join(_PKG_PARENT, "ocr_award_extractor_spark")):
            # already running FROM a --py-files zip (spark-submit shipped
            # the package to driver and workers alike) — nothing to do,
            # and the zip member path is not a writable directory anyway
            _shipped_contexts.add(sc)
            return
        sc.addPyFile(build_pyfiles_zip())
        _shipped_contexts.add(sc)


def get_spark(app_name: str = "ocr-award-extractor-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra: dict | None = None) -> SparkSession:
    _ensure_worker_pythonpath()
    builder = SparkSession.builder.appName(app_name)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Under spark-submit the driver python is launched against an
    # already-configured gateway JVM (PYSPARK_GATEWAY_PORT is set) and
    # --master/--deploy-mode belong to spark-submit; overriding it here
    # would silently turn a cluster job into local[N]. Defer unless the
    # caller asked for a master explicitly.
    if master is not None or "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(master or f"local[{cpus}]")
    conf = dict(DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions if shuffle_partitions is not None else int(cpus)
    )
    if extra:
        conf.update(extra)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
