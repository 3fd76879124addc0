#!/usr/bin/env python3
"""Run the benchmark on several seeds and report, per workload and
end-to-end metric, the median and the spread: the distance between the
first and third quartile (`statistics.quantiles(n=4)`) over the median.

    python3 perfbench/spread.py --workloads dedup_curate --seeds 1-5
    python3 perfbench/spread.py --seeds 1-10 --out perfbench/BASELINE.json

Runs one after another from the repository root, with the run length and
bounds in BENCHMARK.json; a metric whose spread exceeds its bound, or a
third of it, is flagged.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, capture_output=True, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed} failed with code {p.returncode}")
    result = json.loads(lines[-1])
    record = next((json.loads(x)["record"] for x in lines if x.startswith('{"record"')), {})
    return result, record, wall


def main():
    cfg = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in cfg["workloads"]))
    ap.add_argument("--seeds", default="1-10", help="a seed or a range, e.g. 1-10")
    ap.add_argument("--out", help="write the medians and spreads as JSON here")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in cfg["end_to_end"]}
    out = {"run_seconds": cfg["run_seconds"], "seeds": a.seeds, "workloads": {}}
    for w in a.workloads.split(","):
        values, walls, failed = {}, [], 0
        for s in seeds(a.seeds):
            result, record, wall = run(w, s, cfg["run_seconds"])
            walls.append(wall)
            failed += result["failed"] + (0 if result["correct"] else 1)
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {s}: wall {wall:.1f}s correct={result['correct']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
            print(f"  operations (label:ms): {' '.join(record.get('op_ms', []))}", flush=True)
        row = {"wall_s_median": statistics.median(walls), "wall_s_total": sum(walls),
               "failed": failed, "metrics": {}}
        for k, xs in values.items():
            med = statistics.median(xs)
            q1, _, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            flag = "" if k == "setup_s" else (
                " OVER BOUND" if spread > bounds[k] else " over a third" if spread > bounds[k] / 3 else "")
            row["metrics"][k] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": bounds[k]}
            print(f"  {w} {k}: median {med:.4g} spread {spread:.3f} (bound {bounds[k]}){flag}", flush=True)
        out["workloads"][w] = row
    if a.out:
        with open(a.out, "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
