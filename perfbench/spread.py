#!/usr/bin/env python3
"""Run the benchmark on several seeds per workload and report each end-to-end
metric's median and spread (inter-quartile distance over the median, as
`statistics.quantiles(values, n=4)` gives the quartiles). Run from the
repository root:

    python3 perfbench/spread.py [--runs 10] [--first-seed 1] [--workloads a,b]
                                [--out runs.jsonl]

Each result line is appended to --out (with its workload and seed) as it
arrives; the summary goes to stdout.
"""
import argparse
import json
import statistics
import subprocess
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="")
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    for w in names:
        values = {m["name"]: [] for m in spec["end_to_end"]}
        walls = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            r = subprocess.run(spec["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                stdout=subprocess.PIPE, text=True, check=True)
            walls.append(time.time() - t0)
            res = json.loads(r.stdout.strip().splitlines()[-1])
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps(dict(res, workload=w, seed=seed,
                                            wall_s=round(walls[-1], 1))) + "\n")
            for k in values:
                values[k].append(res["metrics"][k]["value"])
            print(f"{w} seed {seed}: correct={res['correct']} failed={res['failed']}"
                  f"/{res['attempted']} wall {walls[-1]:.1f} s", flush=True)
        bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
        for k, xs in values.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            print(f"  {w:16s} {k:16s} median {statistics.median(xs):10.4f} "
                  f"spread {(q3 - q1) / statistics.median(xs):6.3f} "
                  f"(bound {bounds[k]})", flush=True)
        print(f"  {w:16s} run wall median {statistics.median(walls):.1f} s, "
              f"total {sum(walls):.0f} s", flush=True)


if __name__ == "__main__":
    main()
