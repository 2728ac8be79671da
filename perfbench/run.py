"""Benchmark for netascore_spark: one workload, one timed pass, one process.

    python3 perfbench/run.py --workload city_score --seed 1 --seconds 40 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer table (and
prints it above the JSON line).  The line before it, prefixed ``run: ``,
is a JSON object with the run's timings (``pass_s`` is the timed wall),
which steady.py reads.

A run:

1. prepare, not timed: unless ``.perfbench/inputs`` already holds them, a
   child process generates the seeded inputs (perfbench/gen.py) and writes
   them there.  Meanwhile this process launches its JVM through
   ``netascore_spark.session.build_session`` and runs a fixed native
   warm-up job; then it reads the inputs.  The child's JVM exits with it,
   so a cache hit and a miss leave the pass in the same state.
2. the timed pass: the workload's public calls, once (a second pass in the
   same session would be served by the first one's cached intermediates).
   The Python workers start inside it.  ``items_per_s`` = items / wall;
   ``peak_rss_mb`` = the largest summed resident memory (PSS, so pages the
   forked Python workers share count once) of this process and all its
   descendants, sampled during the pass.
3. output checks, outside the timed region.  A failed check is a failed
   operation and the run reports no metric.
4. ``SETUPS`` timed set-ups, each after stopping the session and a full
   GC: a new session, the input read and the warm-up job.  ``setup_s`` is
   their median.  Untraced runs only.

``--seconds`` is accepted but not used: each workload is one
batch pass of a fixed size (on a 4-core host about 45 s for city_score and
25 s for pages_curate), so that every run does the same work.

Everything the run writes goes under ``.perfbench/`` in the current
directory; the per-run scratch directory is deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(os.getcwd(), ".perfbench")

# setup_s is the median of SETUPS set-ups made after the pass, in the JVM
# it has warmed.  The first set-up in a fresh JVM runs cold (about 7 s
# against 1 s warm) and the next few still speed up as the JIT compiles,
# so set-ups made before the pass spread with the host's speed (27 % over
# ten runs) far more than the pass does.
SETUPS = 3
SLOTS = min(4, os.cpu_count() or 1)
# one fixed shuffle width.  At these sizes the passes are bound by per-task
# cost, and width 2 halves the post-shuffle tasks of width 4 (in one pair
# of runs on a 4-core host, city_score's pass took 39 s against 47 s)
SHUFFLE_PARTITIONS = 2
DRIVER_MEMORY = "3g"
INITIAL_HEAP = "2g"
# prefix of the diagnostic line printed above the result
DIAG = "run: "


def session(run_dir: str, traced: bool):
    from netascore_spark.session import build_session

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        # a fixed initial heap: growing it in steps, whose timing varies from
        # run to run, spread peak memory by +-8 % between runs
        "spark.driver.defaultJavaOptions": f"-Xms{INITIAL_HEAP}",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        # keep every job and stage of the pass in the status store
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = build_session(
        app_name="perfbench", master=f"local[{SLOTS}]",
        shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def prepare(wl, seed: int):
    """The inputs' directory under ``.perfbench/inputs``, and the child
    process generating them there, or None if they are already there.  The
    child's JVM ends with it, so the timed pass runs in the same fresh JVM
    on a cache hit as on a miss."""
    from perfbench import gen

    base = os.path.join(WORK, "inputs", f"{wl.name}-s{seed}-{wl.size_key()}-v{gen.VERSION}")
    if os.path.exists(os.path.join(base, "_READY")):
        return base, None
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--workload", wl.name,
         "--seed", str(seed), "--generate", base],
        stdout=sys.stderr,
    )
    return base, child


def generate(wl, seed: int, base: str, run_dir: str) -> None:
    """Write the workload's seeded inputs to ``base`` (atomically)."""
    from perfbench import gen

    spark = session(run_dir, False)
    try:
        # the inputs are small and their expressions one-off: evaluating
        # them interpreted is cheaper than compiling them
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        tmp = tempfile.mkdtemp(dir=os.path.dirname(base), prefix=".gen-")
        # each table is a small job that mostly waits on its own start and
        # commit, so the tables are written concurrently
        with ThreadPoolExecutor(SLOTS) as pool:
            for done in [pool.submit(df.write.parquet, os.path.join(tmp, name))
                         for name, df in wl.generate(spark, seed).items()]:
                done.result()
        gen.check_f64(spark)
        open(os.path.join(tmp, "_READY"), "w").close()
        shutil.rmtree(base, ignore_errors=True)
        os.replace(tmp, base)
    finally:
        stop_jvm(spark)


def warm_up(spark) -> None:
    """A fixed native job: a scan, a shuffle and an aggregation."""
    from pyspark.sql import functions as F

    spark.range(0, 2_000_000, 1, SLOTS).groupBy((F.col("id") % 1000).alias("k")).count().collect()


def cpu_ticks() -> list[int]:
    """The machine-wide /proc/stat cpu line: user, nice, system, idle,
    iowait, irq, softirq, steal (clock ticks)."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:9]]


def stop_jvm(spark) -> None:
    """Stop Spark and wait until the JVM (and with it the Python workers)
    has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def set_up(wl, base: str, run_dir: str):
    """One timed set-up: build a session, read the inputs, run the warm-up
    job."""
    spark = session(run_dir, False)
    inputs = wl.read(spark, base)
    warm_up(spark)
    return spark, inputs


def bench(args, run_dir: str) -> dict:
    from perfbench import tracing
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    traced = bool(args.trace)

    t_start = time.perf_counter()
    base, child = prepare(wl, args.seed)
    spark = None
    try:
        # the pass's own set-up, cold: the JVM launch and the warm-up job
        # run while the child, if any, generates the inputs
        spark = session(run_dir, traced)
        launch = time.perf_counter() - t_start
        tracer = tracing.Tracer(spark) if traced else tracing.NullTracer()
        tracer.enter("session")
        warm_up(spark)
        tracer.close()
        if child is not None and child.wait(timeout=300):
            raise RuntimeError(f"input generation failed with exit code {child.returncode}")
        tracer.enter("session")
        inputs = wl.read(spark, base)
        tracer.close()
        t_prepared = time.perf_counter()

        ticks = cpu_ticks()
        with tracing.RssSampler() as rss:
            t0 = time.perf_counter()
            result = wl.run(spark, inputs, tracer, os.path.join(run_dir, "work"))
            wall = time.perf_counter() - t0
        ticks = [b - a for a, b in zip(ticks, cpu_ticks())]

        t_check = time.perf_counter()
        verdict = wl.check(spark, inputs, result)
        t_checked = time.perf_counter()
        failed = verdict["failed"]
        out = {"correct": not failed, "attempted": verdict["checks"], "failed": len(failed), "metrics": {}}
        setups = []
        if failed:
            print(f"output checks failed: {', '.join(failed)}", file=sys.stderr)
        elif not traced:
            # the timed set-ups, in the JVM the pass has warmed
            for k in range(SETUPS):
                spark.stop()
                spark._jvm.System.gc()
                t0 = time.perf_counter()
                spark, inputs = set_up(wl, base, run_dir)
                setups.append(time.perf_counter() - t0)
            out["metrics"] = {
                "items_per_s": {"value": result["items"] / wall, "unit": "1/s"},
                "setup_s": {"value": statistics.median(setups), "unit": "s"},
                "peak_rss_mb": {"value": rss.peak_mb, "unit": "MB"},
            }
        else:
            stage = tracer.stage_metrics()
            tracer.add_rows("session", sum(df.count() for df in inputs.values()))
            tracer.wall["session"] += launch
            for layer, n in verdict["rows"].items():
                tracer.add_rows(layer, n)
            out["metrics"] = tracing.layer_table(tracer, stage, verdict["ratios"])
            print(tracing.format_table(out["metrics"]))
        hz = os.sysconf("SC_CLK_TCK")
        # one line for people and for steady.py: where the run's time went,
        # and the machine's CPU (hypervisor steal included) during the pass
        diag = {
            "workload": wl.name, "seed": args.seed, "trace": int(traced),
            "launch_s": round(launch, 3), "prepare_s": round(t_prepared - t_start, 3),
            "pass_s": round(wall, 3), "checks_s": round(t_checked - t_check, 3),
            "setups_s": [round(x, 3) for x in setups],
            "machine_cpu_s": {k: round(ticks[i] / hz, 1) for k, i in
                              (("user", 0), ("system", 2), ("idle", 3), ("steal", 7))},
        }
        if traced:
            diag["layers_wall_s"] = round(sum(v for k, v in tracer.wall.items() if k != "session"), 3)
        print(DIAG + json.dumps(diag))
        return out
    finally:
        if child is not None and child.returncode is None:
            child.kill()
            child.wait()
        if spark is not None:
            stop_jvm(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=40)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--generate", metavar="DIR", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import netascore_spark  # noqa: F401
        from perfbench.workloads import WORKLOADS
    except ImportError as exc:
        print(f"cannot import the package under test: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    os.makedirs(os.path.join(WORK, "inputs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(dir=WORK, prefix="run-")
    # keep every temporary file of this process, its JVMs (the Spark
    # launcher's too) and the Python workers inside the run directory
    os.environ["TMPDIR"] = run_dir
    java_opts = f"-Djava.io.tmpdir={run_dir} -XX:-UsePerfData"
    if args.generate:
        # the generator's JVM is short-lived and measures nothing: the C1
        # compiler and one GC thread cut its time and the CPU it takes
        # from this run's own JVM launch, which overlaps it
        java_opts += " -XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
    os.environ["JAVA_TOOL_OPTIONS"] = java_opts
    tempfile.tempdir = run_dir
    try:
        if args.generate:
            generate(WORKLOADS[args.workload], args.seed, args.generate, run_dir)
            return 0
        try:
            out = bench(args, run_dir)
        except Exception:
            traceback.print_exc()
            print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
            return 1
        print(json.dumps(out))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
