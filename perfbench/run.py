"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run

1. pins its environment (``local[nproc]``, explicit driver memory, its
   own Spark local and temp directories, ``PYTHONPATH`` for the Python
   workers) and keeps every file it writes under ``.perfbench_work/``;
2. sets up the workload several times; ``setup_s`` is the CPU time of
   the imports and the JVM launch plus the median set-up;
3. measures the first unit in the fresh JVM (``first_run_cpu_s``), then
   warm units for ``--seconds`` seconds (``run_cpu_s.p50``), at least three of them;
4. checks the outputs, untimed, and counts every failed unit or check;
5. stops Spark and waits for its JVM to exit, then prints the result.

Every end-to-end metric is CPU seconds of the process tree (this
process, the JVM and its Python workers), which the hypervisor's steal
does not inflate (see ``stats.py``). The wall times, their tail, records
per second and the host's steal share go to the ``info`` line.

CPU seconds cannot see a change that makes the program wait longer
without burning more CPU: lost parallelism on ``local[nproc]``, lock or
IO stalls, sleeps, HTTP latency. Such a change passes the gated metrics;
a latency claim must be shown on the ``info`` line's wall times and the
traced run's ``api.*_ms`` spans, not on ``run_cpu_s`` alone.

``--trace 1`` is the separate traced run: spans around the program's
public functions (see ``trace.py``), a Spark event log and the JVM's
codegen counters, reported as the per-layer metrics of BENCHMARK.json.
After one untraced warm-up unit, warm units run traced and untraced in
the order T U U T, which cancels a steady JIT warm-up trend, and the
difference of their median CPU seconds is reported as the tracing
overhead.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3
# the first warm unit still pays for JIT compilation (15-25% more CPU
# than the next ones), so the median needs two units after it
MIN_WARM_UNITS = 3
# traced run: one untraced warm-up unit, then one T U U T cycle
MIN_TRACED_UNITS = 5
DRIVER_MEMORY = "3g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("ingest", "curate"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str) -> None:
    """Everything the JVM and Python workers inherit; set before Spark starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def environment(spark, seed: int) -> dict:
    sc = spark.sparkContext
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except OSError:
        commit = None
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "seed": seed,
        "nproc": os.cpu_count(),
        "ram_gib": round(mem_kb / 2**20, 1),
        "master": sc.master,
        "driver_memory": DRIVER_MEMORY,
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "commit": commit,
    }


def stop_spark(spark) -> None:
    """Stop the session, then close the gateway JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "logzilla_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no logzilla_spark sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    from perfbench import report, stats, trace

    ticks0 = stats.cpu_ticks()
    extra = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        os.makedirs(os.path.join(work, "eventlog"))
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from logzilla_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(cores=os.cpu_count(), extra_conf=extra)
    get_spark_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    env = environment(spark, args.seed)
    launch_s = time.perf_counter() - T_PROCESS  # imports + JVM launch
    launch_cpu_s = stats.tree_cpu_s()

    tracer = trace.Tracer(spark.sparkContext, enabled=False)
    if args.workload == "ingest":
        from perfbench.ingest import Ingest as Workload
    else:
        from perfbench.curate import Curate as Workload
    wl = Workload(spark, os.path.join(work, "data"), args.seed, tracer)
    if args.trace:
        report.install_patches(tracer, args.workload)

    failed, attempted, warm, traced_flags = 0, 0, [], []
    try:
        setups = []
        for _ in range(SETUP_REPEATS):
            timed = stats.Interval()
            wl.setup()
            setups.append(timed.stop())

        codegen0 = trace.codegen_counters(spark) if args.trace else None
        tracer.enabled = bool(args.trace)
        attempted += 1
        first = wl.unit()
        codegen1 = trace.codegen_counters(spark) if args.trace else None

        w0 = time.perf_counter()
        min_units = MIN_TRACED_UNITS if args.trace else MIN_WARM_UNITS
        while time.perf_counter() - w0 < args.seconds or len(warm) < min_units:
            traced = bool(args.trace) and len(warm) > 0 and (len(warm) - 1) % 4 in (0, 3)
            tracer.enabled = traced
            attempted += 1
            try:
                warm.append(wl.unit())
                traced_flags.append(traced)
            except Exception:  # noqa: BLE001 — a failed unit is counted, the run goes on
                traceback.print_exc()
                failed += 1
                if failed >= 3:
                    break
        tracer.enabled = False
        peak_rss = trace.jvm_peak_rss_mb(jvm_pid)
        c0 = time.perf_counter()
        failures = wl.failures + wl.final_checks()
        checks_s = time.perf_counter() - c0
    except Exception:  # noqa: BLE001 — report the failure, print no result
        traceback.print_exc()
        stop_spark(spark)
        return 1
    for f in failures:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    failed += len(failures)

    layer_metrics = None
    if args.trace:
        layer_metrics = report.per_layer(
            args.workload, wl, tracer, spark, [u.cpu for u in warm], traced_flags, get_spark_s,
            codegen0, codegen1)
    stop_spark(spark)
    if args.trace:
        layer_metrics["jvm.peak_rss_mb"] = peak_rss
        layer_metrics.update(report.event_log_metrics(
            args.workload, wl, tracer, os.path.join(work, "eventlog")))

    if not warm:
        print("perfbench: no warm unit completed", file=sys.stderr)
        return 1
    untraced = [u for u, t in zip(warm, traced_flags) if not t]
    rows = [r for r, t in zip(wl.rows_per_unit()[1:], traced_flags) if not t]
    walls, cpus = [u.wall for u in untraced], [u.cpu for u in untraced]
    info = {"workload": args.workload, "env": env, "sizes": wl.sizes,
            "steal_share": stats.steal_share(ticks0, stats.cpu_ticks()),
            "units": {"first_s": first.wall, "first_cpu_s": first.cpu,
                      "warm_s": walls, "warm_cpu_s": cpus, "tail_s": stats.tail(walls),
                      "records_per_s": sum(rows) / sum(walls)},
            "setup_wall_s": launch_s + stats.median([u.wall for u in setups]),
            "setups_s": [u.wall for u in setups], "checks_s": checks_s, "detail": wl.detail()}
    print("info " + json.dumps(info, default=str))
    if args.trace:
        metrics = report.as_metrics(layer_metrics, "per_layer")
    else:
        metrics = report.as_metrics({
            "setup_s": launch_cpu_s + stats.median([u.cpu for u in setups]),
            "first_run_cpu_s": first.cpu,
            "run_cpu_s.p50": stats.median(cpus),
        }, "end_to_end")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
