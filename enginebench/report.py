#!/usr/bin/env python3
"""Run every workload of BENCHMARK.json and print its metrics.

    python3 enginebench/report.py                  # seed 1, untraced + traced
    python3 enginebench/report.py --seeds 1-10 --no-trace

For each workload, runs ``run.py`` once per seed (one process per run, as
the benchmark is meant to be run) and prints each end-to-end metric by
name and unit: the median over seeds, the quartiles, the quartile spread
as a share of the median, and the metric's bound. With tracing (the
default) it also makes one traced run per workload, prints its per-layer
metrics and span self-time table, and reports the tracing overhead: the
traced run's end-to-end values against the untraced run of the same seed.
Exits non-zero when a run fails, a correctness gate fails, or a spread
exceeds its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from benchlib import format_table, quartile_spread  # noqa: E402

# e2e values where a traced run is compared with an untraced one
OVERHEAD_KEYS = ["encode_mbps", "decode_mbps", "write_p50_ms", "read_p50_ms",
                 "compact_s"]


def parse_seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        if "-" in part:
            a, b = part.split("-")
            out.extend(range(int(a), int(b) + 1))
        else:
            out.append(int(part))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}")
    return {"wall_s": wall, "detail": json.loads(lines[-2])["detail"],
            "result": json.loads(lines[-1]), "stderr": p.stderr}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1")
    ap.add_argument("--workloads", default=None,
                    help="comma-separated subset (default: all)")
    ap.add_argument("--no-trace", action="store_true")
    ap.add_argument("--json", default=None,
                    help="also write every run's output to this file")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seeds = parse_seeds(args.seeds)
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in spec["workloads"]])
    ok = True
    dump = {}
    for wl in names:
        runs = []
        for seed in seeds:
            r = run_once(wl, seed, spec["run_seconds"], 0)
            runs.append(r)
            res = r["result"]
            print(f"{wl} seed {seed}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} "
                  f"wall={r['wall_s']:.1f}s "
                  f"canary={r['detail']['canary_mbps']}MB/s "
                  f"steal={r['detail']['cpu_steal_frac']:.1%}",
                  file=sys.stderr)
            ok &= res["correct"]
        rows = []
        for m in spec["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
            row = {"metric": m["name"], "unit": m["unit"],
                   "better": m["better"],
                   "median": statistics.median(vals), "n": len(vals),
                   "bound": m["bound"]}
            if len(vals) >= 2:
                q1, _, q3 = statistics.quantiles(vals, n=4)
                row.update(q1=q1, q3=q3, spread=quartile_spread(vals))
                if m["name"] != "setup_s" and row["spread"] > m["bound"]:
                    ok = False
            rows.append(row)
        print(f"\n== {wl}: end-to-end over seeds {args.seeds}")
        print(format_table(rows, ["metric", "unit", "better", "median", "q1",
                                  "q3", "spread", "bound", "n"]))
        walls = [r["wall_s"] for r in runs]
        print(f"run wall s: median {statistics.median(walls):.1f}, "
              f"max {max(walls):.1f}")
        dump[wl] = {"untraced": runs}
        if args.no_trace:
            continue
        tr = run_once(wl, seeds[0], spec["run_seconds"], 1)
        dump[wl]["traced"] = tr
        ok &= tr["result"]["correct"]
        lrows = [{"metric": m["name"], "unit": m["unit"],
                  "value": tr["result"]["metrics"][m["name"]]["value"]}
                 for m in spec["per_layer"]]
        print(f"\n== {wl}: per-layer (traced run, seed {seeds[0]})")
        print(format_table(lrows, ["metric", "unit", "value"]))
        print(f"\n== {wl}: span self time")
        print(format_table(tr["detail"]["self_time"],
                           ["name", "count", "total_s", "self_s"]))
        base = runs[0]["detail"]["e2e"]
        orows = []
        for k in OVERHEAD_KEYS:
            if k in base and k in tr["detail"]["e2e"]:
                orows.append({"metric": k, "untraced": base[k],
                              "traced": tr["detail"]["e2e"][k],
                              "traced_over_untraced":
                              tr["detail"]["e2e"][k] / base[k]})
        print(f"\n== {wl}: tracing overhead (seed {seeds[0]}, one run each"
              " side; within-run noise applies)")
        print(format_table(orows, ["metric", "untraced", "traced",
                                   "traced_over_untraced"]))
    if args.json:
        for w in dump.values():
            for r in w["untraced"] + ([w["traced"]] if "traced" in w
                                      else []):
                r.pop("stderr", None)
        with open(args.json, "w") as f:
            json.dump(dump, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
