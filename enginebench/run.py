#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one run.

    python3 enginebench/run.py --workload web_cdc --seed 1 --seconds 10 \
        --trace 0

Run from the root of a source checkout. The run starts Spark local[N]
(N = min(2, usable cores)), keeps every file it writes under
``.bench_work/`` in the checkout, and prints two JSON lines on stdout:

  {"detail": {...}}   diagnostics: sample counts, tail percentiles, the box
                      canary, cycle count, failures, the e2e values (also
                      in traced runs, to compare against untraced ones)
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` the per-layer metrics, and the span
self-time table goes to stderr and ``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "omi_cpp_parquet_wide_record_spark"
# Spark task slots. The box's cores are shared with the driver's Python
# process, the JVM's own threads and the Python workers; local[2] ran these
# workloads as fast as local[4] and left that work a core of its own.
SPARK_CORES = 2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Point every temp/scratch location of the Spark driver, the JVM and
    the Python workers into the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM pyspark starts (the launcher too): temp files under the
    # work dir, no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    # a 2 GB heap is ample for these inputs and keeps the JVM's footprint
    # (and so peak_rss_mb) small and repeatable
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")


def start_spark(cores: int):
    from omi_cpp_parquet_wide_record_spark.session import get_spark
    return get_spark("enginebench", cores=cores, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        # Initial heap = maximum heap: with the JVM's small default initial
        # heap, GC and heap growth kept timings drifting for many cycles
        # after the warm-up. C1 only: C2 compiler threads kept competing
        # with the workload for the box's cores through the first measured
        # cycles, which ran slower than later ones.
        "spark.driver.extraJavaOptions":
            "-Xms" + os.environ["SPARK_DRIVER_MEMORY"]
            + " -XX:TieredStopAtLevel=1",
        "spark.sql.warehouse.dir": os.path.join(
            os.environ["TMPDIR"], "warehouse"),
    })


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then any process it left behind,
    and wait for each to end."""
    from benchlib import process_tree
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    left = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall through to kill
            proc.kill()
            proc.wait()
    left = _wait_gone(left, 10)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _wait_gone(left, 5)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"          # a zombie has exited; init reaps it


def _wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    deadline = time.time() + timeout_s
    while True:
        pids = [p for p in pids if _alive(p)]
        if not pids or time.time() > deadline:
            return pids
        time.sleep(0.1)


def usable_cores() -> int:
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(SPARK_CORES, n))


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    from benchlib import (
        RssSampler, Tracer, box_canary_mbps, check_metric_names,
        cpu_steal_counters, format_table, self_time_table,
    )
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"enginebench: no {PACKAGE}/ package beside {HERE}; run it "
              "from the root of a source checkout", file=sys.stderr)
        return 2
    spec = load_spec()
    e2e_names = [m["name"] for m in spec["end_to_end"]]
    layer_names = [m["name"] for m in spec["per_layer"]]
    check_metric_names(e2e_names + layer_names)
    units = {m["name"]: m["unit"]
             for m in spec["end_to_end"] + spec["per_layer"]}

    import workloads as W
    if args.workload not in W.WORKLOADS:
        print(f"enginebench: unknown workload {args.workload!r} "
              f"(have {sorted(W.WORKLOADS)})", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    sys.path.insert(0, ROOT)
    canary = box_canary_mbps()
    steal0 = cpu_steal_counters()
    cores = usable_cores()
    tracer = Tracer(args.workload, enabled=bool(args.trace))
    t0 = time.perf_counter()
    try:
        spark = start_spark(cores)
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    ctx = W.Ctx(spark, work, args.seed, cores, tracer)
    ctx.phases["spark_start"] = time.perf_counter() - t0
    try:
        with RssSampler(os.getpid()) as rss:
            if args.trace:
                import layers as L
                with L.driver_wrappers(ctx):
                    run = W.run_workload(ctx, args.workload, args.seconds)
                with ctx.phase("replay"):
                    replayed = (L.replay_layers(ctx, run["workload"])
                                if run["workload"].bulk_results else {})
            else:
                run = W.run_workload(ctx, args.workload, args.seconds)
    finally:
        with ctx.phase("spark_stop"):
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    steal1 = cpu_steal_counters()
    values = run["values"]
    values["peak_rss_mb"] = rss.peak / 1e6
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "canary_mbps": round(canary, 1),
        "cpu_steal_frac": round((steal1[0] - steal0[0])
                                / max(steal1[1] - steal0[1], 1), 4),
        "cycles": run["cycles"], "window_s": run["window_s"],
        "setup_s_samples": run["setup_s"],
        "samples": dict(ctx.samples),
        "write_tail": values.pop("write_tail", None),
        "read_tail": values.pop("read_tail", None),
        "phases_s": ctx.phases, "e2e": dict(values),
        "failures": ctx.failures,
    }
    if args.trace:
        metrics_src = L.layer_values(ctx, replayed)
        names = layer_names
        table = self_time_table(tracer.spans)
        detail["self_time"] = table
        trace_dir = os.path.join(ROOT, ".bench_work", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(os.path.join(
            trace_dir, f"{args.workload}-seed{args.seed}.jsonl"))
        print(format_table(table, ["name", "count", "total_s", "self_s"]),
              file=sys.stderr)
    else:
        metrics_src, names = values, e2e_names
    missing = [n for n in names if n not in metrics_src]
    # a metric the run could not measure (its op failed every time) is a
    # failed run, never a silently dropped number
    failed = ctx.failed + len(missing)
    metrics = {n: {"value": float(metrics_src.get(n, 0.0)),
                   "unit": units[n]} for n in names}
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": ctx.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
