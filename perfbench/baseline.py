#!/usr/bin/env python3
"""Run the benchmark over several seeds and print a baseline table.

    python3 perfbench/baseline.py [--workloads kg_build,ops_suite] [--seeds 1-10] [--trace 0]

Runs perfbench/run.py once per (workload, seed), in that order, from the
root of the checkout, and prints one markdown table per workload: for each
metric its median, quartiles, the quartile spread as a share of the median
(what BENCHMARK.json's bounds are held against) and the sample count,
under a header naming the core count, heap and Spark settings.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402  (the benchmark's own constants)


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(run.WORKLOADS))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seconds", type=int,
                    default=run.bench_spec()["run_seconds"])
    a = ap.parse_args()
    root = os.path.dirname(HERE)
    cores = os.cpu_count()
    print(f"cores={cores} (local[{cores}]), spark.sql.shuffle.partitions={cores}, "
          f"JVM -Xmx{run.HEAP}, UTC, UI off; run_seconds={a.seconds}, "
          f"trace={a.trace}\n")
    for w in a.workloads.split(","):
        values, failures = {}, 0
        for s in seeds_of(a.seeds):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(a.seconds),
                 "--trace", str(a.trace)],
                cwd=root, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            try:
                r = json.loads(lines[-1])
            except (IndexError, ValueError):
                failures += 1
                print(f"{w} seed {s}: no result (exit {p.returncode})",
                      file=sys.stderr)
                continue
            failures += 0 if r["correct"] else 1
            for k, v in r["metrics"].items():
                values.setdefault(k, (v["unit"], []))[1].append(v["value"])
            print(f"{w} seed {s}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()
                if not k.startswith("ops.q")), file=sys.stderr, flush=True)
        print(f"### {w}\n")
        print("| metric | unit | median | q1 | q3 | (q3-q1)/median | n |")
        print("|---|---|---|---|---|---|---|")
        for k, (unit, v) in values.items():
            med = statistics.median(v)
            q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0], 0, v[0])
            spread = (q3 - q1) / med if med else float("nan")
            print(f"| {k} | {unit} | {med:.4g} | {q1:.4g} | {q3:.4g} | "
                  f"{spread:.3f} | {len(v)} |")
        print(f"\nruns without a correct result: {failures}\n")


if __name__ == "__main__":
    main()
