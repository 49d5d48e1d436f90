#!/usr/bin/env python3
"""End-to-end benchmark of the RealParse job on the graft engine.

Usage (from the repository root):
    python3 perfbench/run.py --workload etl_bulk|query_floor \
        --seed N --seconds S --trace 0|1

Builds the program and the harness from source (sbt, cached by a hash of
the sources), writes seeded inputs (cached per seed and size), runs one
JVM that times the workload in a closed loop with one client, checks
every output, and prints one JSON line last:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The full run record (percentiles with sample counts,
per-query build/exec split, input shares, spans of a traced run) is
written to .bench_build/out/<workload>-seed<N>-trace<T>.json.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402

# workload -> (input kind, size, dump checked against the DuckDB twins)
INPUTS = {
    "etl_bulk": ("etl", 27600, False),
    "query_floor": ("tpch", "0.001", True),
}
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    tops = ["build.sbt", os.path.join("project", "build.properties"),
            os.path.join("perfbench", "build.sbt")]
    trees = [os.path.join("src", "main"), os.path.join("perfbench", "src")]
    files = [t for t in tops if os.path.isfile(os.path.join(ROOT, t))]
    for tree in trees:
        for d, _, fs in os.walk(os.path.join(ROOT, tree)):
            files += [os.path.relpath(os.path.join(d, f), ROOT) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def classpath():
    """Compile the program and the harness once per source hash."""
    cp_file = os.path.join(BUILD, f"classpath-{source_hash()}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts = [f"-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env.setdefault("SBT_OPTS", " ".join(opts))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                           text=True, timeout=840)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        with open(log, "a") as out:
            out.write(r.stdout)
        fail(f"build failed (exit {r.returncode}); see {log}")
    for old in os.listdir(BUILD):
        if old.startswith("classpath-"):
            os.remove(os.path.join(BUILD, old))
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def oracle_check(data_dir, dump_dir):
    """Compare the dumped results with their DuckDB twins, using the
    repository's scripts/check.py. Returns (checked, failed, lines)."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check.py"),
                        data_dir, dump_dir], capture_output=True, text=True, timeout=150)
    ok = len(re.findall(r"^\[(?:OK|rows-only)\]", r.stdout, re.M))
    bad = len(re.findall(r"^\[FAIL\]", r.stdout, re.M))
    if r.returncode != 0 and bad == 0:
        bad = 1
    return ok + bad, bad, [ln for ln in r.stdout.splitlines() if ln.startswith("[FAIL]")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    for need in ["BENCHMARK.json", "build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("scripts", "check.py")]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} here: run from a checkout of the repository")
    cp = classpath()

    kind, size, oracle = INPUTS[a.workload]
    data_root = os.path.join(BUILD, "data")
    data = gen.ensure(data_root, kind, a.seed, size)
    os.utime(data)
    gen.evict(data_root, keep=4)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", tag)
    out_dir = os.path.join(BUILD, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    record_path = os.path.join(out_dir, f"{tag}.json")
    if os.path.exists(record_path):
        os.remove(record_path)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx3g", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}",
            "-cp", cp, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
            str(a.trace), data, work, record_path])
    os.makedirs(work)
    log = os.path.join(out_dir, f"{tag}.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S, cwd=work,
                               env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark")))
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not os.path.exists(record_path):
        with open(log) as f:
            tail = f.readlines()[-30:]
        sys.stderr.write("".join(tail))
        fail(f"benchmark JVM failed ({code}); see {log}")

    with open(record_path) as f:
        rec = json.load(f)
    attempted, failed = rec["attempted"], rec["failed"]
    if oracle:
        n, bad, lines = oracle_check(data, rec["dump_dir"])
        attempted += n
        failed += bad
        rec["oracle"] = {"checked": n, "failed": bad, "failures": lines}
        rec["notes"] += lines
    with open(os.path.join(data, "tables.json")) as f:
        rec["input_tables"] = json.load(f)
    with open(record_path, "w") as f:
        json.dump(rec, f, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values = rec["per_layer"] if a.trace else rec["end_to_end"]
    listed = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in listed if m["name"] not in values]
    if missing:
        fail(f"run record lacks metrics {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    for note in rec["notes"]:
        print(f"perfbench: {note}")
    print(f"perfbench: {a.workload} seed {a.seed}: record in {os.path.relpath(record_path, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
