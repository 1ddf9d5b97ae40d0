"""Repository benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload warehouse_analytics --seed 1 --seconds 20 --trace 0

Generates the workload's inputs from ``--seed``, sets up (session start,
input generation, warm-up, store seeding), then runs full passes of the
workload back to back until ``--seconds`` have elapsed (at least one),
checks every output, and prints the end-to-end metrics. ``--trace 1``
instead prints the per-layer metrics and the tracing overhead: the first
half of the time runs untraced, the second half traced.

Every line but the last is a human-readable report; the last line is
one JSON object with the keys correct, attempted, failed and metrics.
The exit code is 0 only when every correctness check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

#: Driver heap for the single client process. Small next to the host so
#: that several benchmark processes can share a machine.
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "input_rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}

#: Per-pass counters a workload reports itself (0 where not applicable).
WORKLOAD_COUNTERS = {
    "dedup.pairs_out": "count",
    "dedup.tier_caught.exact": "count",
    "dedup.tier_caught.jaccard": "count",
    "dedup.tier_caught.simhash": "count",
    "dedup.increment_growth": "ratio",
    "index_store.versions": "count",
    "index_store.files": "count",
}

EXTRA_LAYER_METRICS = {
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "spark.driver_idle_s": "s",
    "spark.task_skew": "ratio",
    "spark.gc_s": "s",
    "spark.spill_mb": "MB",
    **WORKLOAD_COUNTERS,
    "trace.overhead_pct": "%",
}


def per_layer_units() -> dict[str, str]:
    from perfbench.trace import LAYER_METRICS, LAYERS

    units = {}
    for layer in LAYERS:
        for key, unit in LAYER_METRICS:
            units[f"{layer}.{key}"] = unit
    for layer in LAYERS:
        units[f"setup.{layer}.self_s"] = "s"
    units.update(EXTRA_LAYER_METRICS)
    return units


def pin_env(work: str) -> dict[str, str]:
    """The runtime environment every run uses, set before Spark starts:
    the checkout on the Python workers' path, one shuffle partition and
    one local-mode thread per usable core, and Spark's scratch space and
    temp files inside the run's own work directory."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    env = {
        "PYTHONPATH": os.pathsep.join(path),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    os.environ.pop("SPARK_MASTER", None)
    return env


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed-size heap: its growth would otherwise follow GC timing,
        # and peak RSS with it
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        # keep every job and stage of the run in the status store
        conf["spark.ui.retainedJobs"] = "1000000"
        conf["spark.ui.retainedStages"] = "1000000"
    return conf


def engine_from_checkout() -> bool:
    """True when the engine, its test helpers and Spark import, and the
    engine is the one in this checkout (not an installed copy)."""
    try:
        import big_data_analysis_spark
        import pyspark  # noqa: F401
        import tests.oracle_utils  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return False
    here = os.path.realpath(big_data_analysis_spark.__file__)
    if not here.startswith(os.path.realpath(ROOT) + os.sep):
        print(f"perfbench: engine imported from {here}, not from {ROOT}", file=sys.stderr)
        return False
    return True


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def measure(wl, seconds: float) -> tuple[list, list]:
    """Closed loop: full passes back to back, at least one, and another
    only while it is expected to end within ``seconds`` (judged by the
    slowest pass so far). Returns the pass results and, per pass, its
    (wall start, wall end, first job id, next job id)."""
    from perfbench.trace import job_counter

    results, windows = [], []
    deadline = time.perf_counter() + seconds
    while True:
        wl.before_pass()
        ticks0 = cpu_ticks()
        w0, j0, t0 = time.time(), job_counter(), time.perf_counter()
        res = wl.run_pass()
        res.wall = time.perf_counter() - t0
        ticks1 = cpu_ticks()
        res.steal = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])
        windows.append((w0, time.time(), j0, job_counter()))
        results.append(res)
        if time.perf_counter() + max(r.wall for r in results) > deadline:
            return results, windows


def stop_spark() -> None:
    """Stop the SparkContext and the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall back to killing the JVM
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, work: str) -> tuple[dict, int]:
    from big_data_analysis_spark import session
    from perfbench.trace import Tracer, layer_report
    from perfbench.workloads import WORKLOADS

    conf = spark_conf(work, args.trace)

    def spark_factory():
        return session.get_spark("perfbench", extra_conf=conf)

    tracer = None
    if args.trace:
        tracer = Tracer()
        tracer.install()
    wl = WORKLOADS[args.workload](args.seed, work, spark_factory, scale=args.scale)
    t0 = time.perf_counter()
    steps = wl.setup()
    setup_wall = time.perf_counter() - t0
    setup_s = sum(steps.values())
    report = {"setup_steps_s": steps, "setup_wall_s": setup_wall}

    if tracer is None:
        passes, _ = measure(wl, args.seconds)
    else:
        # Half the time untraced, half traced. The first passes after
        # set-up run slightly colder, so which half goes first alternates
        # with the seed: the overhead figure is not biased one way.
        halves = {}
        for traced in (True, False) if args.seed % 2 else (False, True):
            if traced:
                tracer.resume("pass")
            else:
                tracer.pause()
            halves[traced] = measure(wl, args.seconds / 2)
        tracer.pause()
        (passes, windows), (untraced, _) = halves[True], halves[False]

    walls = [p.wall for p in passes]
    job_s = statistics.median(walls)
    lat = [x for p in passes for x in p.op_latencies]
    rss = vm_hwm_mb("self") + vm_hwm_mb(wl.spark.sparkContext._gateway.proc.pid)
    quality = wl.quality()
    op_p50 = statistics.median(lat)
    e2e = {
        "setup_s": setup_s,
        "job_s": job_s,
        "input_rows_per_s": passes[0].rows_read / job_s,
        "peak_rss_mb": rss,
    }
    report.update({
        "passes": len(passes), "pass_s": walls, "ops_timed": len(lat),
        "cpu_stolen_share": [p.steal for p in passes],
        "op_s": [dict(zip(p.op_names, p.op_latencies)) for p in passes],
    })
    shown_metrics = {
        "setup_s": (setup_s, "s"),
        "job_s": (job_s, "s"),
        "input_rows_per_s": (e2e["input_rows_per_s"], "rows/s"),
        "query_p50_s": (op_p50 if wl.name == "warehouse_analytics" else None, "s"),
        "increment_p50_s": (op_p50 if wl.name == "corpus_refresh" else None, "s"),
        "dup_recall": (quality.get("dup_recall"), "ratio"),
        "dup_precision": (quality.get("dup_precision"), "ratio"),
        "store_bytes_per_doc": (quality.get("store_bytes_per_doc"), "B/doc"),
        "peak_rss_mb": (rss, "MB"),
        "failed_ratio": (wl.failed / max(1, wl.attempted), "ratio"),
    }
    for name, (value, unit) in shown_metrics.items():
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"metric {name} = {shown} {unit}")
    extra_quality = {k: v for k, v in quality.items() if k not in shown_metrics}
    if extra_quality:
        report["quality"] = extra_quality

    if tracer is None:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    else:
        n = len(passes)
        extra = {k: sum(p.counters.get(k, 0.0) for p in passes) / n for k in WORKLOAD_COUNTERS}
        untraced_s = statistics.median(p.wall for p in untraced)
        extra["trace.overhead_pct"] = (job_s / untraced_s - 1.0) * 100.0
        layers = layer_report(tracer, wl.spark, windows, extra)
        units = per_layer_units()
        metrics = {k: {"value": layers[k], "unit": u} for k, u in units.items()}
        report["tracing"] = {
            "untraced_pass_s": [p.wall for p in untraced],
            "traced_pass_s": walls,
            "overhead_pct": extra["trace.overhead_pct"],
        }
        for layer in sorted(
            {k.rsplit(".", 1)[0] for k in units if k.endswith(".self_s") and not k.startswith("setup.")},
            key=lambda L: -layers[f"{L}.self_s"],
        ):
            print(
                f"layer {layer:14s} calls={layers[f'{layer}.calls']:8.2f} "
                f"self_s={layers[f'{layer}.self_s']:8.3f} jobs={layers[f'{layer}.spark_jobs']:7.1f} "
                f"cpu_s={layers[f'{layer}.executor_cpu_s']:8.3f} setup_self_s={layers[f'setup.{layer}.self_s']:8.3f}"
            )
    print("report " + json.dumps(report, default=str))
    result = {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }
    return result, 0 if wl.failed == 0 else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size relative to the defined workload (smoke tests only)")
    args = ap.parse_args(argv)

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    env = pin_env(work)
    if not engine_from_checkout():
        shutil.rmtree(work, ignore_errors=True)
        return 2
    import pyspark

    print("env " + json.dumps({
        **env, "python": platform.python_version(), "pyspark": pyspark.__version__,
        "nproc": len(os.sched_getaffinity(0)), "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "scale": args.scale,
    }))
    try:
        result, code = run(args, work)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.flush()
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
