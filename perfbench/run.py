#!/usr/bin/env python3
"""The repository's benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the program's sources
and the harness (`perfbench/src`) with the Scala compiler that ships with the
Spark jars the root build compiles against, into `$CARGO_TARGET_DIR` (default
`.bench_build`); later runs reuse the classes while the sources are
unchanged. Each run then:

  1. generates its inputs from the seed (the query workloads' tables three
     times, timing the median);
  2. starts the harness JVM (`perfbench.Main`: `local[nproc]`, one client
     thread, closed loop) for the set-up, warm-up and measured phases;
  3. checks the query results against DuckDB running the repository's own
     oracle SQL;
  4. prints every metric by name with its unit, the run environment, and as
     the last line {"correct", "attempted", "failed", "metrics"}: the
     end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.

The full result (and with --trace 1 the spans) is kept under `.bench_results/`.
Exits non-zero on any wrong output or failed operation.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import tables  # noqa: E402

WORKLOADS = ("ingest_ticks", "queries")
# Scale factor of the generated tables (TESTDATA.md row counts × this / 0.1).
SCALE = 0.01
GEN_REPS = 3
# The harness is stopped if a run would exceed this (the contract allows 180 s).
DEADLINE_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory the root build compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    build = os.path.join(ROOT, "build.sbt")
    if not os.path.exists(build):
        die("no build.sbt at the repository root and SPARK_HOME unset")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build).read())
    if not m:
        die("build.sbt names no unmanagedBase jar directory; set SPARK_HOME")
    return m.group(1)


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not prog:
        die("no program sources under src/main/scala")
    return prog + own


def build(out_dir, jars):
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(out_dir, "classes")
    stamp_file = os.path.join(out_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    log = os.path.join(out_dir, "build.log")
    cp = os.path.join(jars, "*")
    t0 = time.time()
    with open(log, "w") as lf:
        rc = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                             "-d", classes, "-cp", cp, *srcs], stdout=lf, stderr=subprocess.STDOUT,
                            timeout=840).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die(f"build failed (exit {rc}), log in {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes, stamp


def declared():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return spec["end_to_end"], spec["per_layer"]


def revision():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    started = time.time()
    e2e, per_layer = declared()
    jars = spark_jars()
    out_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes, stamp = build(out_dir, jars)

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        gen_s = 0.0
        data = os.path.join(work, "data")
        if a.workload != "ingest_ticks":
            times = []
            for _ in range(GEN_REPS):
                t0 = time.perf_counter()
                tables.write(a.seed, SCALE, data)
                times.append(time.perf_counter() - t0)
            gen_s = statistics.median(times)
        cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
               "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
               "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Main",
               "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--work", work, "--data", data]
        log = os.path.join(work, "harness.log")
        with open(log, "w") as lf:
            try:
                rc = subprocess.run(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                    timeout=max(10, DEADLINE_S - (time.time() - started))).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        res_path = os.path.join(work, "result.json")
        if rc != 0 or not os.path.exists(res_path):
            sys.stderr.write(open(log).read()[-6000:])
            die(f"harness exited {rc}")
        res = json.load(open(res_path))
        failed, errors = res["failed"], list(res["errors"])
        if a.workload != "ingest_ticks":
            sql = json.load(open(os.path.join(work, "oracle_sql.json")))
            bad = oracle.check(os.path.join(work, "results"), data, sql, tables.TABLES)
            failed += len(bad)
            errors += [f"{q}: {why}" for q, why in sorted(bad.items())]
            res["env"]["oracle_checked_queries"] = len(sql)
        m = res["metrics"]
        m["setup_s"]["value"] += gen_s
        res["metrics"]["error_rate"]["value"] = failed / max(1, res["attempted"])
        res["env"].update({"git_revision": revision(), "source_sha256": stamp,
                           "generated_tables_s": gen_s, "scale": SCALE})
        res.update({"failed": failed, "errors": errors})

        os.makedirs(os.path.join(ROOT, ".bench_results"), exist_ok=True)
        base = os.path.join(ROOT, ".bench_results", f"{a.workload}-seed{a.seed}-trace{a.trace}")
        with open(base + ".json", "w") as f:
            json.dump(res, f, indent=1, sort_keys=True)
        shutil.copy(log, base + ".log")
        if a.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"), base + ".spans.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, v in m.items():
        print(f"{name:40s} {v['value']:.6g} {v['unit']}")
    print("env " + json.dumps(res["env"], sort_keys=True))
    for e in errors:
        print(f"FAILED {e}")
    want = e2e if a.trace == 0 else per_layer
    missing = [d["name"] for d in want if d["name"] not in m]
    if missing:
        die(f"harness reported no value for {missing}")
    wrong = [d["name"] for d in want if m[d["name"]]["unit"] != d["unit"]]
    if wrong:
        die(f"harness units differ from BENCHMARK.json for {wrong}")
    correct = failed == 0
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"], "failed": failed,
        "metrics": {d["name"]: {"value": m[d["name"]]["value"], "unit": d["unit"]} for d in want}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
