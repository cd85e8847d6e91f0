"""Round-7 optimization measurement harness (guide §1) — bench.py is
FROZEN for driver measurement, so all iteration tooling lives here.

Modes (all print one JSON line per unit to stdout, progress to stderr):

  --queries a,b,c [--noop]   time each registry query in a fresh session
                             configured exactly like bench.py's main
                             session (local[$SPARK_GRAFT_CPUS], shuffle
                             partitions = cpus, 2m splits). Default action
                             is df.count() — the driver-bench methodology;
                             --noop forces every column via the noop sink
                             (guide §1.4) to isolate computation.
  --plans out_dir [a,b,c]    write .explain("formatted") per query.
  --headline                 the bench headline extract job (3 runs,
                             salted, over the cached bench corpus).
  --rehearsal                run_training_data_pipeline over the bench
                             corpus with bench.py's arguments.

Each query is labelled via setJobDescription (guide §1.5).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _bench_session():
    from ocr_award_extractor_spark.config import get_spark

    return get_spark("bench-extra", master=f"local[{CPUS}]",
                     shuffle_partitions=CPUS,
                     extra={"spark.sql.files.maxPartitionBytes": "2m",
                            "spark.sql.files.openCostInBytes": "0"})


def run_queries(names: list[str], noop: bool) -> None:
    import __spark_entry__ as entrymod

    spark = _bench_session()
    qmap = entrymod.queries()
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(name)
        t0 = time.monotonic()
        df = qmap[name](spark, SF_DIR)
        if noop:
            df.write.format("noop").mode("overwrite").save()
            rows = -1
        else:
            rows = df.count()
        out[name] = round(time.monotonic() - t0, 3)
        log(f"  {name}: {rows} rows in {out[name]}s")
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"queries": out, "noop": noop}))
    spark.stop()


def write_plans(out_dir: str, names: list[str]) -> None:
    import __spark_entry__ as entrymod

    os.makedirs(out_dir, exist_ok=True)
    spark = _bench_session()
    qmap = entrymod.queries()
    for name in names:
        df = qmap[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(plan)
        log(f"  wrote plan for {name}")
    spark.stop()


def run_headline() -> None:
    import bench as benchmod

    spark = _bench_session()
    pages_path = benchmod.ensure_bench_pages(spark)
    from ocr_award_extractor_spark.operators.extract_pipeline import (
        extract_documents,
    )

    extract_documents(spark.read.parquet(pages_path).limit(2000)).count()
    runs = [benchmod.run_extract_job(spark, pages_path, CPUS)
            for _ in range(3)]
    wall = min(w for w, _ in runs)
    print(json.dumps({"extract_pipeline": round(wall, 3),
                      "docs": runs[0][1],
                      "runs": [round(w, 3) for w, _ in runs]}))
    spark.stop()


def run_rehearsal() -> None:
    import shutil
    import tempfile

    import bench as benchmod
    from ocr_award_extractor_spark.plans.full_pipeline import (
        run_training_data_pipeline,
    )

    spark = _bench_session()
    pages_path = benchmod.ensure_bench_pages(spark)
    rh_dir = tempfile.mkdtemp(prefix="bench_rehearsal_")
    try:
        rehearsal = run_training_data_pipeline(
            spark, spark.read.parquet(pages_path), rh_dir, "bench",
            n_splits=64)
    finally:
        shutil.rmtree(rh_dir, ignore_errors=True)
    print(json.dumps(rehearsal))
    spark.stop()


def main() -> None:
    import argparse

    p = argparse.ArgumentParser()
    p.add_argument("--queries", default=None)
    p.add_argument("--noop", action="store_true")
    p.add_argument("--plans", default=None)
    p.add_argument("--headline", action="store_true")
    p.add_argument("--rehearsal", action="store_true")
    args = p.parse_args()

    if args.plans:
        names = args.queries.split(",") if args.queries else []
        write_plans(args.plans, names)
    elif args.headline:
        run_headline()
    elif args.rehearsal:
        run_rehearsal()
    elif args.queries:
        run_queries(args.queries.split(","), args.noop)


if __name__ == "__main__":
    main()
