#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

Usage, from the root of a checkout:

    python3 perfbench/spread.py --workloads replica_rw,search_xproc --seeds 1-10 [--seconds S]

Runs each workload once per seed (one run at a time), then prints, per
workload and end-to-end metric, the median and the spread: the distance
between the first and third quartile (statistics.quantiles, n=4) as a
share of the median. A spread must stay within the metric's bound from
BENCHMARK.json (setup_s excepted), and should stay below a third of it.
Every run's last line is kept in <build dir>/spread-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(values):
    """First quartile, median and third quartile, as statistics.quantiles
    (method 'exclusive') gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, _, q3 = quartiles(values)
    med = statistics.median(values)
    return (q3 - q1) / abs(med) if med else float("inf")


def verdict(name, bound, s):
    if name == "setup_s":
        return "setup (no spread gate)"
    if s > bound:
        return "OVER BOUND"
    return "ok" if s < bound / 3 else "within bound, above a third"


def seeds_of(text):
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in text.split(",")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    seconds = args.seconds or spec["run_seconds"]
    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    os.makedirs(build_dir, exist_ok=True)
    for wl in args.workloads.split(","):
        results = []
        out_path = os.path.join(build_dir, f"spread-{wl}.jsonl")
        with open(out_path, "w") as out:
            for seed in seeds_of(args.seeds):
                p = subprocess.run(
                    [sys.executable, "perfbench/run.py", "--workload", wl,
                     "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                    stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
                last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
                if p.returncode != 0:
                    print(f"{wl} seed {seed}: FAILED (exit {p.returncode})\n{p.stderr[-2000:]}")
                    continue
                r = json.loads(last)
                results.append(r)
                out.write(json.dumps({"seed": seed, **r}) + "\n")
                out.flush()
                print(f"{wl} seed {seed}: correct={r['correct']} failed={r['failed']}/"
                      f"{r['attempted']} " + " ".join(
                          f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                      flush=True)
        if len(results) < 2:
            continue
        print(f"\n{wl}: {len(results)} runs")
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results]
            s = spread(vals)
            print(f"  {m['name']:<18} median {statistics.median(vals):<12.5g} "
                  f"spread {s:.4f} bound {m['bound']} -> {verdict(m['name'], m['bound'], s)}")
        print(flush=True)


if __name__ == "__main__":
    main()
