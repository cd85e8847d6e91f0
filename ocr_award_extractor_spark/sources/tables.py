"""Table loaders.

* :func:`load_table` — one of the driver-provided TPC-H-ish parquet tables
  (``TABLE_NAMES``) at a given scale-factor directory.
* :func:`ensure_fixture` / :func:`load_fixture` — the engine's canonical
  web-page input table (url, warc_ts, html, text, lang), generated
  deterministically by sources/fixture_gen.py on first use and cached as
  parquet under the repo's ``fixtures/`` directory.

At cluster scale the fixture loader is replaced by an Iceberg table scan
(``spark.read.table('documents')`` partitioned by days(warc_ts)); the
reader API here is the same shape so that swap is config, not code.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession

_log = logging.getLogger(__name__)

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
FIXTURE_DIR = os.path.join(_REPO_ROOT, "fixtures")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table, read with the schema of its parquet footers (a pyarrow
    read on the driver), so building the frame starts no Spark job."""
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import from_arrow_schema

    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = ds.dataset(path, format="parquet").schema
    return spark.read.schema(
        from_arrow_schema(schema, prefer_timestamp_ntz=True)).parquet(path)


# A scan smaller than this per core cannot usefully feed every core —
# parquet splits are row-group-granular, so a small file "split" 32 ways
# still lands every row in one task (measured: the sf0.1 documents scan
# reports 32 partitions but 31 are empty).
SPREAD_MIN_BYTES_PER_TASK = 8 << 20


def spread_small_scans(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to the session's default parallelism
    when its ESTIMATED size is too small to feed every core — the
    scale-adaptive fix for a small input serializing an expensive per-row
    stage (guide §2.5 "input skew": one small file → one real task → the
    stage runs at parallelism 1 no matter how many cores the session has).

    The condition is plan-statistics bytes, NOT partition count: parquet
    splitting is row-group-granular, so a sub-row-group file reports many
    partitions while all rows sit in one (measured on the sf0.1 documents
    table: 32 reported partitions, 31 empty). At production scale the
    estimate exceeds cores × SPREAD_MIN_BYTES_PER_TASK and this is a
    NO-OP — no shuffle is added to a real table scan. When it does fire,
    the shuffle moves only the projected columns (callers select before
    spreading) of a by-definition-small input, and round-robin
    repartition is retry-deterministic (sort-before-repartition,
    SPARK-23207). Unknown/huge estimates (joins, UDF subtrees) safely
    skip the spread; so does a failed estimate, with a WARNING."""
    t = df.sparkSession.sparkContext.defaultParallelism
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception as e:
        _log.warning("spread_small_scans: size estimate failed, input left "
                     "as is: %s", e)
        return df
    if size >= t * SPREAD_MIN_BYTES_PER_TASK:
        return df
    return df.repartition(t)


def ensure_fixture(n_docs: int = 500) -> str:
    """Generate (once) and return the path of the web-page fixture parquet."""
    from ocr_award_extractor_spark.sources.fixture_gen import SEED, write_fixture

    os.makedirs(FIXTURE_DIR, exist_ok=True)
    # v2: generator gained the deterministic outlink block (round 6) —
    # versioned name so stale pre-injection caches can't serve
    path = os.path.join(FIXTURE_DIR, f"webpages_n{n_docs}_s{SEED}_v2.parquet")
    if not os.path.exists(path):
        tmp = path + ".tmp"
        write_fixture(tmp, n_docs)
        os.replace(tmp, path)
    return path


def load_fixture(spark: SparkSession, n_docs: int = 500) -> DataFrame:
    return spark.read.parquet(ensure_fixture(n_docs))
