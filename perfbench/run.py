#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload hourly_etl --seed 1 --seconds 6 --trace 0

The run generates its inputs from ``--seed`` under a private temporary
directory inside the checkout, builds a Spark session on
``local[<cores of this machine>]``, warms it, runs the workload's
operations in a closed loop (one caller) for ``--seconds`` seconds,
checks the program's outputs, removes the temporary directory and prints
one JSON object as the last line of standard output.  With ``--trace 0``
the object holds the end-to-end metrics; with ``--trace 1`` the run
records spans and Spark's event log and the object holds the per-layer
metrics instead.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
OP_SPAN = "op"
#: Spark's default driver heap, also set as the initial heap: a fixed heap
#: keeps the peak RSS steady from run to run.  A 3 GB heap that grew on
#: demand left it wandering by a fifth between runs of one workload.
DRIVER_MEM = "1g"
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def pin_environment(run_dir: Path) -> dict[str, str]:
    """Session-shaping environment, set here and never by the package:
    cores of this machine, a fixed driver heap well below physical memory,
    the checkout on the Python workers' path, and every scratch directory
    under ``run_dir``."""
    cpus = len(os.sched_getaffinity(0))
    for sub in ("local", "tmp"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        "TMPDIR": str(run_dir / "tmp"),
    }
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    return env


def jvm_rss_peak_mb(sc) -> float:
    pid = sc._gateway.proc.pid
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_gc_ms(sc) -> int:
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size()))


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    sc = spark.sparkContext
    gateway, proc = sc._gateway, sc._gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def end_to_end_metrics(setup_s: float, times: list[float], peak_rss_mb: float) -> dict:
    """The user-visible figures of one run; ``times`` holds the wall time of
    every timed operation."""
    return {
        "setup_s": setup_s,
        "op_s_p50": statistics.median(times),
        "ops_per_s": len(times) / sum(times),
        "peak_rss_mb": peak_rss_mb,
    }


def run(args) -> dict:
    run_dir = ROOT / ".perfbench_runs" / f"{args.workload}-{os.getpid()}"
    run_dir.mkdir(parents=True)
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            (ROOT / ".perfbench_runs").rmdir()
        except OSError:
            pass


def _run(args, run_dir: Path) -> dict:
    pin_environment(run_dir)
    from perfbench.trace import SpanTree, Tracer, read_event_log
    from perfbench.workloads import TRACE_TARGETS, WORKLOADS, layer_metrics

    wl = WORKLOADS[args.workload](args.seed, run_dir)
    t0 = time.time()
    wl.generate()
    gen_s = time.time() - t0

    from door2door_etl_spark.session import build_session

    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run_dir / "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData -Xms{DRIVER_MEM}",
    }
    if args.trace:
        (run_dir / "eventlog").mkdir()
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{run_dir / 'eventlog'}",
            "spark.eventLog.compress": "false",
        })
    t0 = time.time()
    spark = build_session(app_name=f"perfbench-{wl.name}", extra_confs=confs)
    build_s = time.time() - t0
    try:
        sc = spark.sparkContext
        tracer = Tracer(sc)
        if args.trace:
            for target, name in TRACE_TARGETS.items():
                tracer.wrap(target, name)
        t0 = time.time()
        wl.warm(spark, tracer)
        warm_s = time.time() - t0
        setup_s = time.time() - T_START - gen_s

        walls: list[tuple[float, bool]] = []
        gc_ms: list[float] = []
        failed = 0
        problems_all: list[str] = []
        t_loop = time.time()
        k = 0
        while not wl.done(k, time.time() - t_loop, args.seconds, bool(args.trace)):
            traced = bool(args.trace) and (k // wl.ops_per_round) % 2 == 0
            wl.prepare(k, traced)
            tracer.active = traced
            gc0 = jvm_gc_ms(sc) if traced else 0
            t0 = time.time()
            try:
                with tracer.span(OP_SPAN):
                    problems = wl.op(spark, k, tracer)
            except Exception:
                problems = [traceback.format_exc(limit=3)]
            wall = time.time() - t0
            tracer.active = False
            if traced:
                gc_ms.append(jvm_gc_ms(sc) - gc0)
            wl.finish(k, traced)
            walls.append((wall, traced))
            failed += bool(problems)
            problems_all += problems
            k += 1
        attempted = k
        t_checks = time.time()
        check_problems = wl.check(spark)
        problems_all += check_problems
        failed = min(attempted, failed + bool(check_problems))
        peak_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0 \
            + jvm_rss_peak_mb(sc)
        t_stop = time.time()
    finally:
        stop_spark(spark)

    t_end = time.time()
    print(f"# phases: gen {gen_s:.1f}s build {build_s:.1f}s warm {warm_s:.1f}s "
          f"loop {t_checks - t_loop:.1f}s ({attempted} ops) checks {t_stop - t_checks:.1f}s "
          f"stop {t_end - t_stop:.1f}s total {t_end - T_START:.1f}s", file=sys.stderr)
    for p in problems_all:
        print(f"# problem: {p}", file=sys.stderr)
    if args.trace:
        tree = SpanTree(tracer.spans, read_event_log(run_dir / "eventlog"))
        ops = [s for s in tracer.spans if s.name == OP_SPAN]
        metrics = layer_metrics(tree, ops, wl.op_extra, gc_ms, build_s, warm_s, walls)
    else:
        metrics = end_to_end_metrics(setup_s, [w for w, _ in walls], peak_rss)
    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}
    return {
        "correct": not problems_all,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": value, "unit": units[name]}
                    for name, value in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "door2door_etl_spark" / "__init__.py").is_file():
        print(f"door2door_etl_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    result = run(args)
    for name, m in result["metrics"].items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
