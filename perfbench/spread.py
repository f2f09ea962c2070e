#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload <name> [--workload ...] --seeds 1-10 [--seconds N]

For every workload and end-to-end metric it prints the median and the
distance between the first and third quartiles as a share of the median
(`statistics.quantiles(values, n=4)`), next to the metric's bound from
BENCHMARK.json. Run it from the root of a checkout.
"""
import argparse
import json
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", action="append", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int)
    a = p.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in a.workload:
        values = {}
        for s in seeds(a.seeds):
            out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                                  "--seed", str(s), "--seconds", str(seconds), "--trace", "0"],
                                 stdout=subprocess.PIPE, text=True)
            r = json.loads(out.stdout.strip().splitlines()[-1])
            if not r["correct"] or r["failed"]:
                print(f"{w} seed {s}: correct={r['correct']} failed={r['failed']}")
            for n, m in r["metrics"].items():
                values.setdefault(n, []).append(m["value"])
        for n, v in values.items():
            q1, med, q3 = statistics.quantiles(v, n=4)
            share = (q3 - q1) / med
            print(f"{w:16s} {n:16s} median {med:12.4f}  iqr/median {share:6.3f}  "
                  f"bound {bounds.get(n)}  values {[round(x, 4) for x in v]}")
            sys.stdout.flush()


if __name__ == "__main__":
    main()
