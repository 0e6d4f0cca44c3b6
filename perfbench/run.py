#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <registry_warm|curation_cold|museum_etl>
                             --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the engine and the harness
from source with sbt when their sources changed (the build lands in
.bench_build/ and the sbt target/ dirs), runs one benchmark JVM, and prints
two JSON lines: a detail line with every end-to-end number, then the result
line {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 they are the per-layer ones,
and the spans land in .bench_out/<workload>-seed<n>-trace1/trace.json.

Options only the benchmark's own tests use: --scale toy (sf0.001 and a
handful of images) and --expected <digest file> (replaces the expected
digests).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("registry_warm", "curation_cold", "museum_etl")
# The end-to-end metrics BENCHMARK.json bounds; the others stay on the
# detail line because they are zero, or absent, on some workload.
END_TO_END = ("setup_s", "pass_s", "op_p50_s", "op_tail_s")
HEAP = "3g"
JVM_TIMEOUT_S = 170
# Spark's own JavaModuleOptions: what spark-submit adds on JDK 17.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Content hash of everything the build reads from the checkout."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns the harness classpath, building first if sources changed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources next to perfbench/ (run from a checkout root)")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
                return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
                "-Dsbt.server.autostart=false"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/writeClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT).returncode
    produced = os.path.join(HERE, "target", "classpath.txt")
    if rc != 0 or not os.path.isfile(produced):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"build failed (sbt exit {rc}), see {log}")
    shutil.copyfile(produced, cp_file)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read().strip()


def main():
    ap = argparse.ArgumentParser(description="museum-image-etl-gridfs engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--scale", default="full", choices=("full", "toy"))
    ap.add_argument("--expected", default=None)
    a = ap.parse_args()

    cp = build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}" + ("-toy" if a.scale == "toy" else "")
    out = os.path.join(ROOT, ".bench_out", tag)
    work = os.path.join(ROOT, ".bench_run", f"{tag}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", f"-Xmx{HEAP}", *ADD_OPENS, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--data", os.path.join(HERE, "data"),
           "--work", work, "--out", out, "--scale", a.scale]
    if a.expected:
        cmd += ["--expected", os.path.abspath(a.expected)]
    try:
        with open(os.path.join(out, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s, see {out}/jvm.log", 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result_file = os.path.join(out, "result.json")
    if rc != 0 or not os.path.isfile(result_file):
        fail(f"benchmark JVM exit {rc}, see {out}/jvm.log", 3)
    with open(result_file) as f:
        r = json.load(f)

    e2e = r["end_to_end"]
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "passes": r["passes"], "cpus": r["cpus"], "max_heap_mb": r["max_heap_mb"],
                      "failures": r["failures"], "end_to_end": e2e,
                      "artifacts": os.path.relpath(out, ROOT)}))
    metrics = r["per_layer"] if a.trace else {k: e2e[k] for k in END_TO_END}
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
