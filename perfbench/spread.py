#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds 8]
        [--trace 0|1] [--out results.json]

For every metric of the result line (and every value of the report line),
prints the median, the quartiles (statistics.quantiles(values, n=4)) and
the spread (Q3 - Q1) / median, the figure the benchmark's bounds are set
against. --out keeps every run's two output lines.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def summary(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out")
    a = p.parse_args()
    runs = []
    for s in seeds(a.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(s), "--seconds", str(a.seconds), "--trace", str(a.trace)],
            stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"seed {s}: exit {proc.returncode}", file=sys.stderr)
            continue
        report, result = json.loads(lines[-2]), json.loads(lines[-1])
        runs.append({"seed": s, "wall_s": time.time() - t0, "report": report, "result": result})
        print(f"seed {s}: correct={result['correct']} wall={runs[-1]['wall_s']:.1f}s "
              f"steal={report['host']['steal_pct']:.2f}% "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in report["report"].items()),
              file=sys.stderr)
    table = {}
    for source, key in (("result", "metrics"), ("report", "report")):
        names = runs[0][source][key] if runs else {}
        for n in names:
            vals = [r[source][key][n]["value"] for r in runs]
            table[f"{source}:{n}"] = summary(vals)
    for n, s in table.items():
        print(f"{n:60s} median {s['median']:14.6g}  q1 {s['q1']:12.6g}  q3 {s['q3']:12.6g}"
              f"  spread {s['spread']:.4f}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "trace": a.trace, "seconds": a.seconds,
                       "summary": table, "runs": runs}, f, indent=1)


if __name__ == "__main__":
    main()
