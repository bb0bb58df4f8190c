"""Run one benchmark workload against the public sketchlib API.

    python3 perfbench/run.py --workload build_files --seed 1 --seconds 10 --trace 0

Run from the repository root. One process drives one closed loop: a
``local[N]`` Spark session (N = usable cores, heap from host memory) runs
one operation at a time. Inputs are generated from ``--seed`` before
set-up; set-up is session start, warm-up and the workload's own
preparation; then operations repeat in whole rounds of the workload's
``round_ops`` until ``--seconds`` have passed, and every output is checked.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with ``--trace 1``
the per-layer metrics). The line before it is the run's self-report (host
calibration spin and steal share at start and end), kept out of the
metrics. Everything the run writes stays under ``perfbench/_run``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _metric_units() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric names and units, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _session(tmp: str, cores: int, heap_gb: int):
    from pyspark.sql import SparkSession

    os.makedirs(os.path.join(tmp, "spark"), exist_ok=True)
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("sketchlib-perfbench")
        .config("spark.driver.memory", f"{heap_gb}g")
        # no hsperfdata files under /tmp: the run writes only inside its checkout
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(tmp, "spark"))
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def _stop(spark) -> None:
    """Stop the session and the gateway JVM, then wait for every process the
    run started (JVM, Python worker daemon and workers) to end."""
    import host
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    while True:
        rest = [p for p in host.process_tree() if p != os.getpid()]
        if not rest:
            return
        if time.time() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        for p in rest:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the library under test is the checkout's own, never an installed copy
    sys.path.insert(0, ROOT)
    try:
        import sketchlib
    except ImportError as e:
        print(f"perfbench: sketchlib not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.abspath(sketchlib.__file__)) != os.path.join(ROOT, "sketchlib"):
        print(f"perfbench: sketchlib resolved outside the checkout: {sketchlib.__file__}", file=sys.stderr)
        return 2

    import host
    import layers as tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]()
    end_to_end, per_layer = _metric_units()

    run_dir = os.path.join(HERE, "_run")
    report = {"workload": args.workload, "seed": args.seed, "host_start": host.host_reading()}
    phases = {}
    t = time.perf_counter()
    wl.generate(os.path.join(run_dir, "inputs"), args.seed)
    phases["generate_s"] = time.perf_counter() - t

    tmp = os.path.join(run_dir, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp, "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable, "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    tempfile.tempdir = tmp
    cores, heap = host.cores(), host.heap_gb()
    report.update({"cores": cores, "heap_gb": heap})

    spark = None
    try:
        t0 = time.perf_counter()
        spark = _session(tmp, cores, heap)
        spark.sparkContext.setLogLevel("ERROR")
        phases["session_s"] = time.perf_counter() - t0
        tr = tracing.Tracer(spark, bool(args.trace))
        wl.prepare(spark, tr)
        # set-up's garbage (the 128 MiB build's heap growth above all) is
        # collected before timing, so the timed phase's RSS is its own
        spark.sparkContext._jvm.System.gc()
        gc.collect()
        setup_s = time.perf_counter() - t0

        results, walls, items, cpus, rss, retained = [], [], [], [], [], []
        failed = 0
        steal0 = host.cpu_times()
        with host.TreeSampler() as sampler:
            start = time.perf_counter()
            i = 0
            while i % wl.round_ops or time.perf_counter() - start < args.seconds:
                tr.op = f"op{i}"
                held = tracing.rdd_storage_mb(spark) if args.trace else {}
                cpu0 = sampler.cpu()
                t = time.perf_counter()
                try:
                    results.append(wl.op(spark, tr, i))
                    walls.append(time.perf_counter() - t)
                    items.append(wl.items(i))
                    cpus.append(sampler.cpu() - cpu0)
                    rss.append(sampler.take_peak())
                except Exception:
                    failed += 1
                    traceback.print_exc()
                if args.trace:
                    # storage of the RDDs the operation persisted and left behind
                    retained.append(sum(mb for rdd, mb in tracing.rdd_storage_mb(spark).items()
                                        if rdd not in held))
                i += 1
        attempted = ops = i
        phases["timed_s"] = time.perf_counter() - start
        report["steal_pct_timed"] = host.steal_pct(steal0)
        t = time.perf_counter()
        # a workload's fixed-input operation runs once per round
        for _ in range(attempted // wl.round_ops):
            try:
                bad = wl.fixed_op(spark)
            except Exception:
                traceback.print_exc()
                bad = ["raised"]
            if bad is None:
                break
            attempted += 1
            if bad:
                failed += 1
                print(f"perfbench: fixed-input operation failed: {'; '.join(bad)}", file=sys.stderr)

        phases["fixed_op_s"] = time.perf_counter() - t
        t = time.perf_counter()
        errs = wl.check(results)
        phases["check_s"] = time.perf_counter() - t
        for e in errs:
            print(f"perfbench: CHECK FAILED {e}", file=sys.stderr)

        if args.trace:
            metrics = {k: 0.0 for k in per_layer}
            metrics["trace.op_s"] = tracing.median(walls)
            store = tracing.StatusStore(spark)
            metrics.update(tracing.span_metrics(tr.spans, store, walls, cores))
            metrics.update(wl.layer_pass(spark, {"walls": walls, "results": results, "ops": ops,
                                                 "retained": retained, "spans": tr.spans}))
            path, column, big, parts = wl.kernel_inputs()
            kern = tracing.kernel_timings(path, column, workloads.SMALL_BLOOM, workloads.BIG_BLOOM,
                                          big, parts)
            metrics.update(kern)
            metrics["kernel_share"] = wl.kernel_ns(kern) / 1e9 / (tracing.median(walls) * cores)
            units = per_layer
        else:
            metrics = {
                "setup_s": setup_s,
                "op_s": tracing.median(walls),
                "tokens_per_s": sum(items) / sum(walls),
                "cpu_s_per_op": tracing.median(cpus),
                "peak_rss_mb": tracing.median(rss),
            }
            units = end_to_end
    finally:
        t = time.perf_counter()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        phases["stop_s"] = time.perf_counter() - t

    report.update({"attempted": attempted, "failed": failed, "ops_s": [round(w, 4) for w in walls],
                   "cpu_s": [round(c, 2) for c in cpus],
                   "rss_mb": [round(r) for r in rss],
                   "check_failures": len(errs), "setup_s": round(setup_s, 3),
                   **{k: round(v, 3) for k, v in phases.items()}, "host_end": host.host_reading()})
    print(json.dumps({"self_report": report}))
    print(json.dumps({
        "correct": not errs,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
