"""Benchmark entry point.

    python3 perfbench/run.py --workload tree_resync --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed`` under ``.perfbench/``, sets up (``session.get_spark`` plus one
untimed warm-up repetition), repeats the timed call until ``--seconds`` of
calls have run (at least ``MIN_REPS`` times), checks every output, and
prints one JSON line last: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. A traced run enables Spark's event log and
interleaves untraced and traced repetitions; the ratio of their times is
``trace.overhead_ratio``. ``--smoke`` shrinks every input to a toy size.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracing import RssSampler, Tracer, descendants, tree_cpu_s  # noqa: E402

# an untraced run times at least this many repetitions, so its medians
# never rest on a single sample
MIN_REPS = 2


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="toy-size inputs")
    return p.parse_args(argv)


def pin_environment(root: str) -> dict:
    """Environment the program runs under; Python workers inherit it."""
    cpus = str(len(os.sched_getaffinity(0)))
    local = os.path.join(root, ".perfbench", "spark-local")
    tmp = os.path.join(root, ".perfbench", "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        # keep temporary files of Python and the JVM inside the checkout
        "TMPDIR": tmp,
        # C1 only: the optimising C2 compiler would otherwise keep
        # compiling on the shared cores for minutes after the warm-up,
        # a varying load on the timed repetitions of a one-minute run
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1",
    }
    os.environ.update(pinned)
    sys.path.insert(0, root)
    return pinned


def release_cached(spark) -> None:
    """Unpersist every registered RDD and cached table."""
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)
    spark.catalog.clearCache()


def one_rep(spark, wl, i: int, tracer=None) -> dict:
    """Prepare, time and check one repetition. With ``tracer`` the call
    runs under the layer wrappers, inside a root span named ``rep``."""
    change = wl.prepare(i)
    release_cached(spark)
    # start every repetition from the same state: no dirty pages of the
    # previous one left to write back, no Python garbage left to collect
    os.sync()
    gc.collect()
    cpu0 = tree_cpu_s()
    if tracer:
        install_tracer(tracer)
        wl.tracer = tracer
        try:
            # memory is sampled in traced repetitions only: the sampler
            # thread shares the interpreter lock with the timed driver code
            with RssSampler() as rss, tracer.span("rep") as span:
                out = wl.call(spark)
        finally:
            wl.tracer = None
            tracer.uninstall()
        dt = span.seconds
    else:
        t0 = time.perf_counter()
        out = wl.call(spark)
        dt = time.perf_counter() - t0
    rep = {
        "run_s": dt,
        "cpu_s": tree_cpu_s() - cpu0,
        "leaked_rdds": spark.sparkContext._jsc.getPersistentRDDs().size(),
        "input_change": change,
    }
    if tracer:
        tracer.collect_jobs(span)
        rep["span"] = span
        rep["peak_rss_mib"] = rss.peak_mib
        rep["layers"] = layer_inputs(spark, span)
    rep["attempted"], rep["failed"], rep["problems"] = wl.check(spark, out)
    return rep


def layer_inputs(spark, span) -> dict:
    """Counts the per-layer metrics need from the values the traced calls
    returned, read after the repetition so they are not part of it."""
    from pyspark.sql import functions as F

    out = {"manifest_rows": 0, "manifest_dirs": 0, "bins": [], "status": {}, "deleted": 0}
    for s in span.walk():
        res = s.info.pop("result", None)
        if res is None:
            continue
        if s.name == "manifest":
            r = res.agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("is_dir").cast("int")).alias("d")).first()
            out["manifest_rows"] += r["n"]
            out["manifest_dirs"] += r["d"] or 0
        elif s.name == "plan":
            planned, n_tasks, _ = res
            sums = {r["bin"]: r["b"] for r in planned.groupBy("bin").agg(F.sum("size").alias("b")).collect()}
            out["bins"].append([sums.get(b, 0) or 0 for b in range(n_tasks)])
        elif s.name == "distexec":
            for r in res.groupBy("status").count().collect():
                out["status"][r["status"]] = out["status"].get(r["status"], 0) + r["count"]
        elif s.name == "sync":
            out["deleted"] += res.count()
    return out


def enable_event_log(log_dir: str) -> None:
    """Have the JVM this process launches write an uncompressed event log.
    Set through the environment, so ``session.get_spark`` stays unchanged."""
    os.makedirs(log_dir, exist_ok=True)
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"


def install_tracer(tracer) -> None:
    from hadoop_distexec_spark import cli
    from hadoop_distexec_spark.pipe import executor, sync

    tracer.install(executor, "build_manifest", "manifest")
    tracer.install(executor, "plan_partitions", "plan", tail="exec")
    tracer.install(sync, "build_manifest", "manifest")
    tracer.install(sync, "sync_deletes", "sync")
    tracer.install(executor, "distexec", "distexec")
    tracer.install(executor, "metrics", "metrics", tail="cli.metrics")
    tracer.install(cli, "main", "cli")


def shutdown(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for every process
    this benchmark started to end."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone; the waits below cover it
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hadoop_distexec_spark", "__init__.py")):
        print("run from the repository root: hadoop_distexec_spark/ not found", file=sys.stderr)
        return 2
    env = pin_environment(root)

    from hadoop_distexec_spark import session
    from layers import end_to_end, per_layer
    from workloads import WORKLOADS

    run_id = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    work = os.path.join(root, ".perfbench", "work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    wl = WORKLOADS[args.workload](work, args.seed, args.smoke)
    log_dir = os.path.join(root, ".perfbench", "eventlog", run_id)
    if args.trace:
        enable_event_log(log_dir)
    spark = None
    try:
        inputs = wl.generate()
        t0 = time.perf_counter()
        spark = session.get_spark()
        wl.warm(spark)
        setup_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext) if args.trace else None
        reps, traced, spent = [], [], 0.0
        if tracer:
            # untraced and traced repetitions alternate, and the run ends
            # with an untraced one, so a warming trend over the run cancels
            # out of the overhead ratio
            while spent < args.seconds or not traced:
                for t in (None, tracer):
                    rep = one_rep(spark, wl, len(reps) + len(traced), t)
                    (traced if t else reps).append(rep)
                    spent += rep["run_s"]
            reps.append(one_rep(spark, wl, len(reps) + len(traced)))
        else:
            while spent < args.seconds or len(reps) < MIN_REPS:
                reps.append(one_rep(spark, wl, len(reps)))
                spent += reps[-1]["run_s"]
        app_id = spark.sparkContext.applicationId
    finally:
        if spark is not None:
            shutdown(spark)
    cores = int(env["SPARK_GRAFT_CPUS"])
    if args.trace:
        metrics = per_layer(traced, reps, os.path.join(log_dir, app_id), cores)
    else:
        metrics = end_to_end(reps, setup_s, inputs)
    all_reps = reps + traced
    problems = [p for r in all_reps for p in r["problems"]]
    for p in problems:
        print("check failed:", p, file=sys.stderr)
    result = {
        "correct": not problems and all(r["failed"] == 0 for r in all_reps),
        "attempted": sum(r["attempted"] for r in all_reps),
        "failed": sum(r["failed"] for r in all_reps),
        "metrics": metrics,
    }
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(log_dir, ignore_errors=True)
    description = {
        "workload": args.workload,
        "seed": args.seed,
        "inputs": inputs,
        "samples": {"untraced": len(reps), "traced": len(traced)},
        "input_changes": [r["input_change"] for r in all_reps],
        "environment": env,
    }
    print(json.dumps(description))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
