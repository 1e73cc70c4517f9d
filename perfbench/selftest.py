#!/usr/bin/env python3
"""Checker self-test for the benchmark. Run from the repository root:

    python3 perfbench/selftest.py

1. A tiny run of each workload, untraced and traced, prints every metric of
   BENCHMARK.json with its unit and reports no failure.
2. Damaged outputs are caught: for each workload, one dropped row and one
   changed cell (a committed span row for bulk_extract, a query result row
   for corpus_queries) make the run report failed operations.
3. Outside a repository checkout (only BENCHMARK.json and perfbench/), the
   benchmark exits non-zero without printing a result.

Exits non-zero on the first broken expectation.
"""
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace=0, mutate="none", cwd=ROOT):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                             "--trace", str(trace), "--size", "tiny", "--mutate", mutate]
    r = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=900)
    last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
    return r.returncode, last


def expect(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def main():
    for w in (w["name"] for w in SPEC["workloads"]):
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            code, line = run(w, trace)
            expect(code == 0 and line.startswith("{"), f"{w} trace={trace} prints a result")
            res = json.loads(line)
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{w} trace={trace} checks pass ({res['attempted']} attempted)")
            want = {m["name"]: m["unit"] for m in SPEC[group]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{w} trace={trace} prints every {group} metric with its unit")
            if trace == 0:
                expect(all(v["value"] > 0 for v in res["metrics"].values()),
                       f"{w} end-to-end metrics are non-zero")
        for mutation in ("drop_span", "change_cell"):
            code, line = run(w, 0, mutation)
            res = json.loads(line)
            expect(code == 0 and res["failed"] > 0 and not res["correct"],
                   f"{w} with {mutation} reports {res['failed']} failed of {res['attempted']}")

    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "project"))
    shutil.copytree(os.path.join(ROOT, "perfbench", "project"),
                    os.path.join(bare, "perfbench", "project"),
                    ignore=shutil.ignore_patterns("target", "project"))
    code, line = run(SPEC["workloads"][0]["name"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(code != 0 and not line.startswith("{"),
           "outside a checkout the benchmark exits non-zero without a result")


if __name__ == "__main__":
    main()
