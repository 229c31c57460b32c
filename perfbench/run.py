"""Crawl-frontier benchmark: one workload per invocation, run from the
root of a checkout of this repository.

    python3 perfbench/run.py --workload many_waves --seed 1 --seconds 10 --trace 0

The engine runs in this process on a ``local[4]`` Spark session as a
closed loop: one crawl or ingest at a time, the next call only after the
previous one returned, because a crawl is a batch job whose caller waits
for it. Per run:

1. copy-bandwidth probe (an annotation, not a metric);
2. set-up, timed as one wall-clock span: session start, input
   generation, the cache fill and the untimed warm-up;
3. timed calls until ``--seconds`` would be exceeded (at least one);
4. with ``--trace 1``, in place of the timed calls: one traced call,
   then the per-layer probes. The traced call sits where an untraced
   run makes its first timed call, so the tracing overhead is the
   traced ``run_s`` (annotation ``traced_run_s``) minus the median,
   over untraced runs of the same workload, of their first call's
   ``run_s`` (annotation ``run_s_all[0]``);
5. the last call's outputs are checked against a reference computed
   outside every timed region and outside set-up;
6. the run exits only once every process it started has ended: the
   JVM, Spark's Python daemon and workers, the probe's pool.

The last line of stdout is the result JSON; the line before it holds the
run's annotations. Everything the run writes stays under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import probes  # this directory is the script's, so first on sys.path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "basic_common_crawl_pipeline_spark"
WORK = os.path.join(ROOT, ".perfbench_work")


def metric_units(trace: bool) -> dict:
    """name -> unit of the metrics a run reports, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def start_session(run_dir: str):
    from basic_common_crawl_pipeline_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master="local[4]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # The heap is committed and touched whole at JVM start: G1
            # otherwise grows it when its pause times say so, which put
            # peak_pss_mb of one seed anywhere between 2.3 and 3.0 GB.
            # No hsperfdata file under /tmp: the run writes only in its
            # checkout.
            "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData"
                f" -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            # the traced run reads every job of a crawl back by job group
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants: Spark's
    Python daemon and its workers outlive the JVM that forked them for a
    moment, and ``reap_children`` must be able to wait for them."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def reap_children(grace_s: float = 30.0) -> None:
    """Wait until every process this run started, and every orphan
    re-parented to it, has ended; kill what still runs after
    ``grace_s`` seconds."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        kids = probes.process_children().get(os.getpid(), [])
        if not kids:
            return
        if time.monotonic() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def settle(spark) -> None:
    """Collect the warm-up call's garbage in the driver and the JVM
    before timing: the JVM's ContextCleaner drops the warm-up's
    shuffles, broadcasts and cached blocks only once they are collected,
    and would otherwise do so during the first timed call."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def timed_calls(workload, spark, seconds: float):
    """Closed loop: call, wait, call again while the next call is
    expected to end within ``seconds``. Returns (calls, failed)."""
    calls, failed = [], 0
    t0 = time.perf_counter()
    while True:
        try:
            call = workload.call(spark)
        except Exception:
            traceback.print_exc()
            failed += 1
            break
        if calls:  # the last call's outputs are kept for check()
            workload.discard(calls[-1])
        calls.append(call)
        if time.perf_counter() - t0 + call.run_s > seconds:
            break
    return calls, failed


def end_to_end(calls, setup_s: float) -> dict:
    steps = [s for c in calls for s in c.steps]
    return {
        "setup_s": setup_s,
        "run_s": statistics.median(c.run_s for c in calls),
        "urls_per_s": statistics.median(c.units / c.run_s for c in calls),
        "first_wave_s": statistics.median(c.marks[0] for c in calls),
        "wave_s_p50": statistics.median(steps),
        "peak_pss_mb": statistics.median(c.mem_mb for c in calls),
    }


def main(argv=None) -> int:
    become_subreaper()
    # a SIGTERM unwinds through the finally blocks that stop Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(argv)
    finally:
        reap_children()


def run(argv) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"no {PACKAGE} package next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import the engine from the same tree
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from spans import Tracer, job_counts
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    notes: dict = {"workload": args.workload, "seed": args.seed}
    notes["copy_bandwidth_gbps"] = probes.copy_bandwidth_gbps()

    workload = WORKLOADS[args.workload](run_dir, os.path.join(WORK, "reference"))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(run_dir)
        t1 = time.perf_counter()
        workload.generate(spark, args.seed)
        t2 = time.perf_counter()
        workload.fill(spark)
        t3 = time.perf_counter()
        workload.warmup(spark)
        settle(spark)
        t4 = time.perf_counter()
        setup_s = t4 - t0
        notes["setup_parts_s"] = {
            "session": t1 - t0, "generate": t2 - t1, "fill": t3 - t2, "warmup": t4 - t3,
        }
        notes["knobs"] = workload.inputs.knobs

        if args.trace:
            sc = spark.sparkContext
            before = set(sc.statusTracker().getJobIdsForGroup(None))
            tracer = Tracer(sc, f"pb{os.getpid()}").install()
            try:
                traced = workload.call(spark, tracer)
            finally:
                tracer.uninstall()
            job_ids = set(sc.statusTracker().getJobIdsForGroup(None)) - before
            for group in tracer.groups:
                job_ids.update(sc.statusTracker().getJobIdsForGroup(group))
            runtime = job_counts(sc, job_ids)
            metrics = workload.layers(spark, tracer, traced)
            metrics.update({
                "spark.jobs": runtime["jobs"],
                "spark.stages": runtime["stages"],
                "spark.failed_tasks": runtime["failed"],
            })
            calls, failed = [traced], 0
            notes["traced_run_s"] = traced.run_s
            notes.update(getattr(workload, "annotations", {}))
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            trace_path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl")
            tracer.write(trace_path)
            notes["trace_file"] = os.path.relpath(trace_path, ROOT)
        else:
            calls, failed = timed_calls(workload, spark, args.seconds)
            if not calls:
                return 1
            metrics = end_to_end(calls, setup_s)
            notes["calls"] = len(calls)
            notes["wave_samples"] = sum(len(c.steps) for c in calls)
            notes["run_s_all"] = [c.run_s for c in calls]

        checked, differing = workload.check(spark, calls[-1])
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    units = metric_units(bool(args.trace))
    if units.keys() != metrics.keys():
        raise RuntimeError(f"metrics {sorted(metrics)} differ from BENCHMARK.json {sorted(units)}")
    attempted = checked + failed
    notes["ops_failed_ratio"] = (differing + failed) / max(checked, 1)
    notes["rows_checked"] = checked
    print(json.dumps({"annotations": notes}))
    print(json.dumps({
        "correct": differing == 0 and failed == 0,
        "attempted": attempted,
        "failed": differing + failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
