"""Local simulation of the driver's correctness gate: run every
``queries()[name]`` on Spark and its ``oracle_sql()[name]`` on DuckDB over
the same parquet tables, compare row count, column names, and an
order-insensitive value multiset.

Usage: python scripts/check_oracles.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"


def _canon(v):
    import datetime
    import math

    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return str(v)


def compare(name, spark_df, duck_rows, duck_cols, duck_types=None):
    s_cols = list(spark_df.columns)
    s_rows = spark_df.collect()
    problems = []
    if sorted(s_cols) != sorted(duck_cols):
        problems.append(f"columns {s_cols} vs {duck_cols}")
    # the driver's hasher renders DuckDB HUGEINT (int128) / DECIMAL columns
    # differently from BIGINT/DOUBLE even when every value is equal — this
    # script's str() canon can't see that, so flag the types directly
    # (round-1 lesson: sessionize_events/simhash passed here, failed there)
    for c, t in zip(duck_cols, duck_types or []):
        if any(k in str(t).upper() for k in ("HUGEINT", "DECIMAL")):
            problems.append(
                f"oracle column {c} has driver-hash-unsafe type {t}: CAST it")
    if len(s_rows) != len(duck_rows):
        problems.append(f"rowcount {len(s_rows)} vs {len(duck_rows)}")
    if not problems:
        order = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
        d_order = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
        a = sorted("|".join(_canon(r[i]) for i in order) for r in s_rows)
        b = sorted("|".join(_canon(r[i]) for i in d_order) for r in duck_rows)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            problems.append(f"values differ, first diffs: {diff}")
    return problems


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from ocr_award_extractor_spark.config import get_spark
    from ocr_award_extractor_spark.sources.tables import TABLE_NAMES

    sf_dir = sys.argv[1] if len(sys.argv) > 1 and os.path.isdir(sys.argv[1]) else SF_DIR
    only = set(a for a in sys.argv[1:] if not os.path.isdir(a))

    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    # invariance knobs: SPARK_GRAFT_CHECK_MASTER / _SHUFFLE re-run the gate
    # at any parallelism; SPARK_GRAFT_CHECK_BARE=1 uses a BARE session (no
    # UTC pin / AQE / Arrow tuning) to prove results don't depend on our
    # own session config (the driver's harness session is unknown)
    master = os.environ.get("SPARK_GRAFT_CHECK_MASTER", "local[8]")
    shuffle = int(os.environ.get("SPARK_GRAFT_CHECK_SHUFFLE", "8"))
    if os.environ.get("SPARK_GRAFT_CHECK_BARE"):
        from pyspark.sql import SparkSession

        spark = (SparkSession.builder.master(master)
                 .appName("oracle-check-bare").getOrCreate())
    else:
        spark = get_spark("oracle-check", master=master,
                          shuffle_partitions=shuffle)
    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    # the LSH queries derive (bands, rows) from the corpus size; the static
    # oracle SQL pins the driver's sf0.01 gate scale — regenerate those
    # three for the sf under test so any-scale runs stay fully green
    from ocr_award_extractor_spark.operators.similarity import oracles_for_scale

    oracles.update(oracles_for_scale(sf_dir))

    failed = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        df = fn(spark, sf_dir)
        if name not in oracles:
            n = df.count()
            print(f"  {name:34s} rows-only: {n} rows")
            continue
        rel = con.sql(oracles[name])
        problems = compare(name, df, rel.fetchall(), list(rel.columns),
                           list(rel.types))
        if problems:
            failed.append(name)
            print(f"✗ {name:34s} {problems}")
        else:
            print(f"✓ {name:34s} MATCH ({df.count()} rows)")

    print(f"\n{'FAIL: ' + ', '.join(failed) if failed else 'all oracles match'}")
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
