#!/usr/bin/env python3
"""Measure run-to-run spread of the end-to-end metrics.

    python3 perfbench/steadiness.py --seeds 1-10 [--workloads lms_nightly,...] [--out FILE]

Runs perfbench/run.py once per workload and seed (untraced, with the run
length from BENCHMARK.json) and prints, per workload and metric, the median
and the interquartile range as a share of the median, next to the metric's
bound and a third of it. Writes the raw values as JSON to --out if given.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", required=True, help="inclusive range, e.g. 1-10")
    ap.add_argument("--workloads", help="comma-separated; default all")
    ap.add_argument("--out")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    raw = {}
    for w in names:
        raw[w] = []
        for s in seeds(args.seeds):
            cmd = [*bench["command"], "--workload", w, "--seed", str(s),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            res = json.loads(last) if p.returncode == 0 else {}
            if not res.get("correct"):
                print(f"{w} seed {s}: rc={p.returncode} {last[:300]} {p.stderr[-500:]}", file=sys.stderr)
            prov = [ln for ln in p.stdout.splitlines() if ln.startswith("provenance ")]
            raw[w].append({"seed": s, "correct": res.get("correct"),
                           "metrics": {k: v["value"] for k, v in res.get("metrics", {}).items()},
                           "provenance": json.loads(prov[-1][len("provenance "):]) if prov else {}})
            print(f"{w} seed {s}: {raw[w][-1]['metrics']}", flush=True)
    print(f"\n{'workload':14} {'metric':12} {'median':>12} {'iqr/median':>11} {'bound':>6} {'bound/3':>8}")
    for w, runs in raw.items():
        for m, bound in bounds.items():
            vals = [r["metrics"][m] for r in runs if m in r["metrics"]]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            flag = "ok" if spread < bound / 3 else ("within" if spread < bound else "WIDE")
            print(f"{w:14} {m:12} {med:12.4f} {spread:11.4f} {bound:6.2f} {bound / 3:8.4f} {flag}")
    if args.out:
        Path(args.out).write_text(json.dumps(raw, indent=1))


if __name__ == "__main__":
    main()
