#!/usr/bin/env python3
"""Benchmark launcher: one workload, one seed, one result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--size full|tiny] [--mutate none|drop_span|change_cell]

Run from the repository root. The first run builds the library sources plus
the benchmark program (perfbench/build.sbt) into .bench_build/ and reuses the
build while the sources are unchanged. Each run then:

  1. generates its inputs from the seed (corpus_queries tables here, the
     other workloads' inputs inside the JVM) under .bench_build/work-*;
  2. launches one JVM (perfbench.Main: one SparkSession at local[<cores>],
     one closed-loop client) that sets up, warms up, measures for
     --seconds, checks its outputs and writes result.json;
  3. checks corpus_queries results against their DuckDB oracles, and checks
     run hygiene: no scratch directory of the run may survive it;
  4. prints one JSON line: correct, attempted, failed, and the end-to-end
     metrics (--trace 0) or the per-layer metrics (--trace 1).

Traced runs also keep their spans under .bench_build/traces/. --size tiny
and --mutate serve the checker self-test (selftest.py).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
LIBRARY = os.path.join(ROOT, "src", "main")
JVM_TIMEOUT_S = 170
SCRIPTS = os.path.join(ROOT, "scripts")
# corpus_queries tables: documents, events (embeddings are 0.4 per document).
# "full" is the size of the sf0.1 test tables.
QUERY_TABLES = {"full": (5000, 100000), "tiny": (60, 1000)}
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    roots = [LIBRARY, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            p for p in glob.glob(os.path.join(root, "**", "*"), recursive=True)
            if os.path.isfile(p))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile (once per source state) and return the runtime classpath."""
    if not os.path.isdir(os.path.join(LIBRARY, "scala")):
        sys.exit("perfbench: no library sources at src/main/scala; run from the repository root")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read()
    log("building (sbt compile) ...")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True, timeout=850)
    lines = [l for l in r.stdout.splitlines() if l.startswith(BUILD)]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("perfbench: build failed (see .bench_build/build.log)")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(digest)
    return lines[-1]


def gen_tables(data, seed, size):
    """The corpus_queries tables: documents and embeddings from the
    repository's generator, events from gen_events.py."""
    n_docs, n_events = QUERY_TABLES[size]
    subprocess.run([sys.executable, os.path.join(SCRIPTS, "gen_scaled_docs.py"),
                    str(n_docs), data, str(seed)],
                   check=True, stdout=subprocess.DEVNULL, timeout=120)
    sys.path.insert(0, HERE)
    import gen_events
    gen_events.write(data, seed, n_events)


CTE = re.compile(r"\b(\w+) AS \(")


def materialized(sql):
    """The oracle with every common table expression marked MATERIALIZED.
    DuckDB 1.0 inlines a CTE at each reference, so q57's oracle re-runs its
    pair join at every use of `pairs` and `edges` (about 26 s at sf0.1 size).
    Each CTE is deterministic, so evaluating it once leaves the result
    unchanged (about 1.4 s)."""
    return CTE.sub(r"\1 AS MATERIALIZED (", sql)


def check_oracles(data, work):
    """Compare each checked query result with its DuckDB oracle under
    scripts/check_oracles.py's rules; returns (attempted, failures)."""
    import duckdb
    sys.path.insert(0, SCRIPTS)
    from check_oracles import canon, load_spark_result
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracles = json.load(f)
    failures = []
    for name, sql in sorted(oracles.items()):
        t0 = time.time()
        try:
            got = load_spark_result(os.path.join(work, "query_results", name))
            want = con.execute(materialized(sql)).fetchdf()
            got.columns = [c.lower() for c in got.columns]
            want.columns = [c.lower() for c in want.columns]
            ok = sorted(got.columns) == sorted(want.columns) and canon(got) == canon(want)
        except Exception as e:  # a missing result or a broken oracle fails the check
            log(f"oracle check {name}: {e}")
            ok = False
        log(f"oracle check {name}: {'equal' if ok else 'differs'} ({time.time() - t0:.1f} s)")
        if not ok:
            failures.append(f"{name} differs from its DuckDB oracle")
    return len(oracles), failures


def mutate_result(work, kind):
    """Damage the first non-empty checked query result (self-test only)."""
    import pyarrow.parquet as pq
    for d in sorted(glob.glob(os.path.join(work, "query_results", "*"))):
        for p in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            t = pq.read_table(p)
            if t.num_rows == 0:
                continue
            if kind == "drop_span":
                t = t.slice(1)
            else:
                rows = t.to_pylist()
                k = t.column_names[0]
                v = rows[0][k]
                rows[0][k] = v + "x" if isinstance(v, str) else (None if v is None else v + 1)
                t = t.from_pylist(rows, schema=t.schema)
            pq.write_table(t, p)
            return


def leftovers(before):
    """Entries of /tmp and /dev/shm that appeared during the run."""
    now = set()
    for d in ("/tmp", "/dev/shm"):
        if os.path.isdir(d):
            now |= {os.path.join(d, e) for e in os.listdir(d)
                    if not e.startswith("hsperfdata_")}
    return sorted(now - before)


def fs_type(path):
    """Filesystem type of the mount holding `path` (from /proc/mounts)."""
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            if len(parts) > 2 and path.startswith(parts[1]) and len(parts[1]) > len(best):
                best, kind = parts[1], parts[2]
    return kind


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--mutate", choices=("none", "drop_span", "change_cell"), default="none")
    a = ap.parse_args()
    started = time.time()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        sys.exit(f"perfbench: unknown workload {a.workload}")
    classpath = build()

    work = os.path.join(BUILD, f"work-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "scratch", "data"):
        os.makedirs(os.path.join(work, d))
    before = set(leftovers(set()))
    try:
        gen_s = []
        if a.workload == "corpus_queries":
            for _ in range(3):
                t0 = time.time()
                gen_tables(os.path.join(work, "data"), a.seed, a.size)
                gen_s.append(time.time() - t0)

        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
            "-Xmx3g", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--data", os.path.join(work, "data"),
            "--size", a.size, "--mutate", a.mutate]
        env = dict(os.environ, SPARK_GRAFT_SCRATCH_DIR=os.path.join(work, "scratch"))
        launched = time.time()
        with open(os.path.join(work, "jvm.log"), "w") as out:
            r = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                               timeout=JVM_TIMEOUT_S)
        jvm_s = time.time() - launched
        result_file = os.path.join(work, "result.json")
        if r.returncode != 0 or not os.path.exists(result_file):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            sys.exit(f"perfbench: the benchmark JVM exited with {r.returncode}")
        with open(result_file) as f:
            res = json.load(f)
        with open(os.path.join(work, "jvm.log")) as f:  # the JVM's progress lines
            sys.stderr.write("".join(l for l in f if l.startswith("[perfbench]")))

        attempted, failures = res["attempted"], list(res["failures"])
        failed = res["failed"]
        if a.workload == "corpus_queries":
            if a.mutate != "none":
                mutate_result(work, a.mutate)
            n, bad = check_oracles(os.path.join(work, "data"), work)
            attempted += n
            failed += len(bad)
            failures += bad
        # run hygiene: the program's scratch root and the machine's temp
        # directories hold nothing of this run once the JVM is gone
        leaked = os.listdir(os.path.join(work, "scratch")) + leftovers(before)
        attempted += 1
        if leaked:
            failed += 1
            failures.append(f"scratch left behind: {leaked[:5]}")
        for msg in failures:
            log(f"failed: {msg}")

        launch_s = res["session_ready_ms"] / 1000.0 - launched
        inputs_s = res["setup_once_s"] + sum(
            statistics.median(g) for g in (gen_s, res["setup_gen_s"]) if g)
        setup_s = launch_s + inputs_s + res["setup_warm_s"]
        log(f"set-up: session {launch_s:.2f} s, inputs {inputs_s:.2f} s, "
            f"warm-up {res['setup_warm_s']:.2f} s; JVM {jvm_s:.1f} s; "
            f"run {time.time() - started:.1f} s")
        metrics = dict(res["metrics"])
        metrics["setup_s"] = {"value": setup_s, "unit": "s"}
        wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
        out = {}
        for m in wanted:
            got = metrics.get(m["name"])
            if got is None and not a.trace:
                sys.exit(f"perfbench: workload {a.workload} did not measure {m['name']}")
            out[m["name"]] = {"value": got["value"] if got else 0.0, "unit": m["unit"]}
        if a.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            base = os.path.join(traces, f"{a.workload}-seed{a.seed}")
            shutil.copy(os.path.join(work, "spans.json"), base + ".spans.json")
            with open(base + ".result.json", "w") as f:
                json.dump(dict(res, setup_s=setup_s, failures=failures,
                               fs_type=fs_type(work)), f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
