"""Crawl-to-corpus benchmark: one command per workload.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0

Run from the repository root. The run

1. builds the seeded inputs (cached under ``perfbench/.cache``, untimed);
2. sets up the Spark session three times (session start, package ship,
   warm-up extraction of a 64-page slice) and reports the median as
   ``setup_s``;
3. runs one untimed warm-up job, then the workload as a closed loop -- one
   batch job at a time from this driver at ``local[<cores>]`` -- until
   ``--seconds`` have passed and the workload's ``min_jobs`` have run,
   checking every job's output (the warm-up's too) and reporting medians
   over the timed jobs;
4. stops the Spark JVM and every other process it started, waiting for
   each to end;
5. prints every metric with its unit, then one JSON line with the result.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is the traced
run: the same closed loop with spans and job groups around every call into
a layer, one more job with the status-store reader off (its Spark job
count must match), the status-store reads, then the kernel, Arrow-boundary
and WARC probes. It reports the per-layer metrics and writes its spans to
``perfbench/.out/trace-<workload>-s<seed>.json``.

A failed check counts the docs it affects in ``failed``, makes
``correct`` false and exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_ROUNDS = 3
WARM_PAGES = 64
HEAP = "1g"

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "docs_per_s": "docs/s",
             "peak_pss_mb": "MB"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def make_session(work_dir: str, n_cores: int):
    from ocr_award_extractor_spark.config import get_spark

    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    return get_spark("perfbench", master=f"local[{n_cores}]",
                     shuffle_partitions=n_cores, extra={
                         # a fixed, pre-touched heap keeps the JVM's resident
                         # size independent of when the collector grows it
                         "spark.driver.memory": HEAP,
                         "spark.driver.extraJavaOptions":
                             f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={local}",
                         "spark.local.dir": local,
                         "spark.ui.showConsoleProgress": "false",
                         "spark.ui.retainedJobs": "5000",
                         "spark.ui.retainedStages": "10000",
                     })


def setup(wl, work_dir: str, n_cores: int):
    """SETUP_ROUNDS x (session start, package ship, warm-up job); returns
    the last session and each round's seconds. Earlier sessions are kept
    referenced so the package-ship cache (keyed by session identity)
    never sees a reused id."""
    from pyspark.sql import functions as F

    from ocr_award_extractor_spark.config import ensure_package_on_workers
    from ocr_award_extractor_spark.operators.extract_pipeline import (
        extract_documents,
    )

    sessions, rounds = [], []
    for _ in range(SETUP_ROUNDS):
        if sessions:
            sessions[-1].stop()
        t0 = time.perf_counter()
        spark = make_session(work_dir, n_cores)
        spark.sparkContext.setLogLevel("ERROR")
        ensure_package_on_workers(spark)
        warm = spark.read.parquet(wl.pages).limit(WARM_PAGES)
        extract_documents(warm, salt_partitions=n_cores).agg(
            F.count(F.lit(1))).first()
        rounds.append(time.perf_counter() - t0)
        sessions.append(spark)
    return sessions[-1], rounds


def closed_loop(wl, ctx, seconds: float, first_index: int = 0,
                min_jobs: int = 1) -> list[dict]:
    """Run one job at a time until ``seconds`` have passed and at least
    ``min_jobs`` jobs have run."""
    iters = []
    t_end = time.perf_counter() + seconds
    while len(iters) < min_jobs or time.perf_counter() < t_end:
        start = len(ctx.calls)
        it = wl.iteration(ctx, first_index + len(iters))
        it["calls"] = (start, len(ctx.calls))
        iters.append(it)
    return iters


def spark_metrics(ctx, iters: list[dict]) -> dict:
    """Per-iteration status-store totals (medians over iterations); every
    call's own totals are attached to its span."""
    from observe import median

    per_iter = []
    for it in iters:
        job_ids = []
        for span, window in ctx.calls[it["calls"][0]:it["calls"][1]]:
            before = ctx.status.last_job_id()
            m = ctx.status.stage_metrics(window["jobs"])
            if ctx.status.last_job_id() != before:
                raise RuntimeError("the status-store reader started a Spark job")
            groups = ctx.status.job_groups(window["jobs"]) - {None, window["label"]}
            if groups:
                raise RuntimeError(f"foreign job groups in {window['label']}: {groups}")
            span.update(spark_jobs=len(window["jobs"]), **m)
            job_ids += window["jobs"]
        m = ctx.status.stage_metrics(job_ids)
        m["jobs"] = len(job_ids)
        m["wall_s"] = it["wall_s"]
        per_iter.append(m)

    def med(key):
        return median([m[key] for m in per_iter])

    return {
        "spark.jobs": med("jobs"),
        "spark.stages": med("stages"),
        "spark.tasks": med("tasks"),
        "spark.executor_run_s": med("run_ms") / 1e3,
        "spark.executor_cpu_s": med("cpu_ns") / 1e9,
        "spark.core_util": median([m["run_ms"] / 1e3 / (m["wall_s"] * ctx.cores)
                                   for m in per_iter]),
        "spark.input_mb": med("input_b") / 1e6,
        "spark.shuffle_write_mb": med("shuffle_write_b") / 1e6,
        "spark.shuffle_read_mb": med("shuffle_read_b") / 1e6,
        "spark.shuffle_fetch_wait_s": med("fetch_wait_ms") / 1e3,
        "spark.spill_mb": med("spill_b") / 1e6,
        "spark.task_skew": med("task_skew"),
    }


def traced_run(wl, spark, n_cores, work_dir, seconds, seed, warm):
    """The per-layer run after ``warm`` warm-up iterations. Returns
    (metrics, all iterations after the warm-up)."""
    import workloads
    from observe import SparkStatus, Tracer, median

    status = SparkStatus(spark)
    tracer = Tracer(True)
    ctx = workloads.Context(spark, n_cores, work_dir, tracer, status)
    with tracer.span("workload", workload=wl.name, seed=seed):
        iters = closed_loop(wl, ctx, seconds, first_index=warm,
                            min_jobs=wl.min_jobs)
    # one more job with the status reader off: same job groups, no spans,
    # no stage reads
    off = workloads.Context(spark, n_cores, work_dir, Tracer(False), status)
    untraced = closed_loop(wl, off, 0, first_index=warm + len(iters))
    jobs_off = sum(len(w["jobs"]) for _, w in off.calls)
    t0 = time.perf_counter()
    layers = spark_metrics(ctx, iters)
    reader_s = (time.perf_counter() - t0) / len(iters)
    jobs_on = [sum(len(w["jobs"]) for _, w in ctx.calls[slice(*it["calls"])])
               for it in iters]
    if any(n != jobs_off for n in jobs_on):
        raise RuntimeError(f"Spark jobs per job differ with the status reader "
                           f"on {jobs_on} and off {jobs_off}")
    layers["spark.jobs_reader_off"] = jobs_off
    layers.update(workloads.kernel_probe(ctx, wl.pages, seed))
    boundary = workloads.boundary_probe(ctx, wl)
    layers["extract_pipeline.boundary_s"] = boundary
    layers["extract_pipeline.boundary_share"] = boundary / wl.extract_wall(iters)
    layers.update(wl.layer_metrics(ctx, iters))

    layers["trace.wall_s"] = median([it["wall_s"] for it in iters])
    layers["trace.overhead_s"] = median([
        sum(w["overhead_s"] for _, w in ctx.calls[slice(*it["calls"])])
        for it in iters])
    layers["trace.reader_s"] = reader_s
    layers["trace.spans"] = len(tracer.spans)
    tracer.dump(os.path.join(HERE, ".out", f"trace-{wl.name}-s{seed}.json"))
    return layers, untraced + iters


def per_layer_names() -> list[tuple[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return [(m["name"], m["unit"]) for m in spec["per_layer"]]


def run(args) -> int:
    import workloads
    from observe import PssSampler, median, stop_descendants

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]()
    n_cores = cores()
    work_dir = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    t0 = time.perf_counter()
    wl.prepare(args.seed, n_cores, bool(args.trace))
    gen_s = time.perf_counter() - t0

    spark = None
    warm: list[dict] = []
    iters: list[dict] = []
    error = None
    try:
        spark, rounds = setup(wl, work_dir, n_cores)
        t0 = time.perf_counter()
        wl.after_setup(spark, n_cores, bool(args.trace))
        gen_s += time.perf_counter() - t0
        # one untimed job, so the timed ones start with warm workers and JIT
        warm = closed_loop(wl, workloads.Context(
            spark, n_cores, work_dir, None, None), 0)
        if args.trace:
            layers, iters = traced_run(wl, spark, n_cores, work_dir,
                                       args.seconds, args.seed, len(warm))
        else:
            ctx = workloads.Context(spark, n_cores, work_dir, None, None)
            with PssSampler() as mem:
                iters = closed_loop(wl, ctx, args.seconds, first_index=len(warm),
                                    min_jobs=wl.min_jobs)
    except Exception:
        error = traceback.format_exc()
    finally:
        if spark is not None:
            spark.stop()
        # the JVM and its Python workers end before the result is printed
        stop_descendants()
        shutil.rmtree(work_dir, ignore_errors=True)

    checked = warm + iters
    if error is not None:
        print(error, file=sys.stderr)
        # a job that raised counts every doc it was given as failed
        attempted = wl.docs() * (len(checked) + 1)
        failed = wl.docs() + sum(it["failed"] for it in checked)
    else:
        attempted = wl.docs() * len(checked)
        failed = sum(it["failed"] for it in checked)
    correct = error is None and failed == 0

    print(f"workload {wl.name}  seed {args.seed}  cores {n_cores}  "
          f"jobs {len(iters)}  docs/job {wl.docs()}  inputs {gen_s:.2f} s")
    print("  job walls (s): " + " ".join(f"{it['wall_s']:.3f}" for it in iters))
    metrics = {}
    if error is None and args.trace:
        for name, unit in per_layer_names():
            # layers this workload's calls never reach report no work
            if name not in layers and name.startswith(wl.off_path):
                layers[name] = 0
            metrics[name] = {"value": layers[name], "unit": unit}
    elif error is None:
        wall = median([it["wall_s"] for it in iters])
        values = {"setup_s": median(rounds), "wall_s": wall,
                  "docs_per_s": wl.docs() / wall,
                  "peak_pss_mb": mem.peak_bytes / 1e6}
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
        shown = {**values, "failed_ratio": failed / attempted}
        units = {**E2E_UNITS, "failed_ratio": "1"}
        for k, v in shown.items():
            print(f"  {k:<14} {v:>12.4f} {units[k]}")
    if args.trace and error is None:
        for k, v in metrics.items():
            print(f"  {k:<40} {v['value']:>14.4f} {v['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ocr_award_extractor_spark")):
        print(f"{ROOT} holds no ocr_award_extractor_spark package; run from "
              f"a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from observe import adopt_orphans, stop_descendants

    adopt_orphans()
    # a SIGTERM unwinds through the finally below like an error would
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args)
    finally:
        stop_descendants()


if __name__ == "__main__":
    sys.exit(main())
