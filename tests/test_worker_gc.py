"""The settled-heap freeze the engine package installs in Spark Python
workers: the daemon's full collect between tasks moves a warmed worker's
module state to the permanent generation, so later collects walk only
objects made since; the permanent generation does not grow while the
worker's loaded modules stay the same; and a driver gets no hook at all.
The tests count objects and time nothing."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_driver_import_adds_no_callback_and_freezes_nothing():
    """Imported with ``pyspark.taskcontext`` loaded but no task active, the
    package appends no gc callback and a full collect freezes nothing."""
    code = ("import gc, pyspark.taskcontext\n"
            "n = len(gc.callbacks)\n"
            "import ocr_award_extractor_spark\n"
            "gc.collect()\n"
            "print(len(gc.callbacks) - n, gc.get_freeze_count())\n")
    proc = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                          capture_output=True, text=True, check=True)
    assert proc.stdout.split() == ["0", "0"]


# Run in a fresh local[4] session of its own: the shared test session's
# worker pool holds workers of every earlier test, and a probe task may
# land on any of them.
WORKER_RUN = """
import json

from ocr_award_extractor_spark.config import get_spark
from ocr_award_extractor_spark.operators.extract_pipeline import extract_documents
from ocr_award_extractor_spark.sources.tables import load_fixture


def report(batches):
    import gc
    import os
    import sys

    import pyarrow as pa

    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({
        "pid": [os.getpid()], "frozen": [gc.get_freeze_count()],
        "live": [len(gc.get_objects())],
        "engine": ["ocr_award_extractor_spark" in sys.modules]})


spark = get_spark("worker-gc", master="local[4]", shuffle_partitions=4)
docs = load_fixture(spark, n_docs=200)


def extract_job():
    extract_documents(docs, salt_partitions=4).count()


# the probe crosses the boundary the engine's row stages use, so it
# imports no module a warmed worker lacks
def probe():
    rows = (spark.range(0, 8, numPartitions=4)
            .mapInArrow(report, "pid long, frozen long, live long, engine boolean")
            .collect())
    return {r.pid: [r.frozen, r.live] for r in rows if r.engine}


extract_job()
first = probe()
for _ in range(10):
    extract_job()
print(json.dumps({"first": first, "again": probe()}))
spark.stop()
"""


def test_reused_workers_freeze_their_settled_heap():
    """After one extraction job, every worker that ran an engine task has a
    frozen heap and tracks under a tenth of it; over 10 more jobs the
    freeze count of each worker seen by both probes stays exactly the
    same. A probe imports no module a warmed worker lacks, so it
    triggers no freeze itself."""
    proc = subprocess.run([sys.executable, "-c", WORKER_RUN], cwd=ROOT,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    seen = json.loads(proc.stdout.strip().splitlines()[-1])
    first, again = seen["first"], seen["again"]
    assert first, seen
    for pid, (frozen, live) in first.items():
        assert frozen > 0 and live < frozen / 10, (pid, frozen, live)
    both = first.keys() & again.keys()
    assert both, seen
    for pid in both:
        assert again[pid][0] == first[pid][0], (pid, first[pid], again[pid])
