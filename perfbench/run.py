"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload bcdr_lifecycle --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of the repository.  Everything the run
writes lives under ``.perfbench_run/`` (warehouse, staged inputs,
``SPARK_LOCAL_DIRS``, temp files), which is removed at the end; traced
runs also leave their spans in ``.perfbench_out/``.  The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics when ``--trace 0``, the
per-layer metrics when ``--trace 1``.  Progress and host facts (load
average, CPU steal, sample counts) go to standard error.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import metrics as catalogue  # noqa: E402
import stats  # noqa: E402

MODULES = {"bcdr_lifecycle": "wl_bcdr", "curation_stream": "wl_curation"}
TRACE_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.streaming.ui.retainedQueries": "1000",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class Ctx:
    """What a workload gets: the session, the tracer, the seed and the
    counters behind ``attempted``/``failed``."""

    def __init__(self, args, run_dir: str) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.tracer = None

    def check(self, cond: bool, msg: str) -> None:
        self.attempted += 1
        if not cond:
            self.failed += 1
            log(f"CHECK FAILED: {msg}")

    @contextmanager
    def op(self, what: str):
        """One attempted operation; it fails if it raises or if a check
        passed to ``ok`` fails.  A raising operation is logged with its
        traceback and the run goes on."""
        problems: list[str] = []

        def ok(cond: bool, msg: str) -> None:
            if not cond:
                problems.append(msg)

        self.attempted += 1
        t0 = time.perf_counter()
        try:
            yield ok
        except Exception:  # noqa: BLE001 — the run reports the failure and goes on
            self.failed += 1
            log(f"OP FAILED: {what}\n{traceback.format_exc()}")
            return
        log(f"{what}: {time.perf_counter() - t0:.3f}s")
        if problems:
            self.failed += 1
            log(f"CHECK FAILED: {what}: {'; '.join(problems)}")


def start_session(ctx: Ctx):
    from snowflake_iceberg_cld_bcdr_demo_spark.session import build_session

    spark = build_session(
        app_name="perfbench",
        master=f"local[{ctx.cores}]",
        shuffle_partitions=ctx.cores,
        warehouse=os.path.join(ctx.run_dir, "spark-warehouse"),
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.run_dir}/tmp",
            "spark.ui.showConsoleProgress": "false",
            # the tracer reads every job and stage of the traced pass back
            # from the status store, so a traced run keeps them all
            **(TRACE_CONF if ctx.trace else {}),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
                proc.kill()
                proc.wait()


def jvm_peak_rss_kb() -> int:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return stats.peak_rss_kb(proc.pid) if proc is not None else 0


def footprint_mb(spark) -> dict[str, float]:
    """Memory the run still holds at its end, in MB: the driver JVM's heap
    after full collections, its non-heap memory in use, and the peak RSS
    of the Python process.  Unlike the JVM's RSS, this does not depend on
    when the collector chose to grow the heap.

    Collections repeat until the heap stops shrinking: what finalizers
    and Spark's ContextCleaner release after one collection (broadcast
    and shuffle blocks of dead datasets) is only freed by a later one."""
    jvm = spark.sparkContext._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap = float("inf")
    for _ in range(5):
        jvm.java.lang.System.gc()
        prev, heap = heap, mem.getHeapMemoryUsage().getUsed()
        if heap > 0.98 * prev:
            break
        time.sleep(0.5)
    return {
        "heap": heap / 2**20,
        "non_heap": mem.getNonHeapMemoryUsage().getUsed() / 2**20,
        "python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(MODULES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # imports the engine package: fails before anything starts without it
    wl = importlib.import_module(MODULES[args.workload])
    try:
        wl.plan(args.seconds)
    except ValueError as e:
        ap.error(str(e))

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    tempfile.tempdir = os.environ["TMPDIR"]

    ctx = Ctx(args, run_dir)
    la0, ticks0 = stats.loadavg1(), stats.cpu_ticks()
    spark = None
    try:
        spark = ctx.spark = start_session(ctx)
        from spans import Tracer

        ctx.tracer = Tracer(spark)
        result = wl.run(ctx, T_PROCESS)
        rss_mb = (jvm_peak_rss_kb() + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024
        if not ctx.trace:
            footprint = footprint_mb(spark)
            result["metrics"]["footprint_mb"] = sum(footprint.values())
            result["info"]["footprint_mb"] = footprint
            result["metrics"]["ok_frac"] = 1.0 - ctx.failed / max(1, ctx.attempted)
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "peak_rss_mb": rss_mb,
            "loadavg1_start": la0,
            "loadavg1_end": stats.loadavg1(),
            "steal_frac": round(stats.steal_frac(ticks0, stats.cpu_ticks()), 4),
            **result["info"],
        }
        if ctx.trace:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            ctx.tracer.dump(
                os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
                {"info": info, "metrics": result["metrics"]},
            )
            ctx.tracer.close()
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    log("info " + json.dumps(info, sort_keys=True))
    units = catalogue.units("per_layer" if ctx.trace else "end_to_end")
    if set(result["metrics"]) != set(units):
        odd = set(result["metrics"]) ^ set(units)
        raise RuntimeError(f"metrics differ from the catalogue: {sorted(odd)}")
    metrics = dict(stats.metric(k, v, units[k]) for k, v in sorted(result["metrics"].items()))
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
