#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, as the bounds are judged.

Runs the benchmark once per seed on one workload (sequentially) and prints,
per end-to-end metric, the median of the runs and the distance between the
first and third quartile (statistics.quantiles(values, n=4)) as a share of
that median, next to the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload extract_full --seeds 1-10

Run from the repository root. Exits 1 if a spread (other than setup_s's)
exceeds its bound.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def run_once(workload, seed, seconds):
    p = subprocess.run([sys.executable, str(ROOT / "perfbench" / "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"seed {seed}: run failed with code {p.returncode}")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    results = []
    for s in seeds(a.seeds):
        t0 = time.time()
        r = run_once(a.workload, s, spec["run_seconds"])
        results.append(r)
        print(f"seed {s} ({time.time() - t0:.0f} s): correct={r['correct']} "
              f"failed={r['failed']}/{r['attempted']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
              flush=True)
    bad = 0
    print(f"\n{a.workload}: {len(results)} runs")
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        flag = ""
        if spread > m["bound"] and m["name"] != "setup_s":
            flag, bad = "  OVER BOUND", bad + 1
        elif spread > m["bound"] / 3:
            flag = "  over a third of the bound"
        print(f"  {m['name']:22s} median {med:12.5g} {m['unit']:8s} "
              f"IQR/median {spread:6.3f}  bound {m['bound']}{flag}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
