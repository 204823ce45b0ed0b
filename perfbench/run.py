#!/usr/bin/env python3
"""graft benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload nightly|interactive \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline) into `.bench_build/`; later runs reuse
the build while the sources are unchanged. Each run generates its inputs from
the seed, runs the workload in one JVM on `local[<cores>]`, checks every
output with the repository's DuckDB oracle gate (`tools/selfcheck.py`), and
prints a human summary followed by one
JSON line: `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0`
the metrics are the end-to-end metrics of BENCHMARK.json, with `--trace 1`
its per-layer metrics. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "sources.sha256")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HEAP = "3g"
# Limits counted from the end of the build: the JVM's, and the whole run's.
RUN_LIMIT_S = 150
CHECK_LIMIT_S = 175
BUILD_LIMIT_S = 850

sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    for top in (PROGRAM_SRC, os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_jars():
    """The Spark jar directory the program's own build compiles against."""
    build = os.path.join(ROOT, "build.sbt")
    m = os.path.exists(build) and re.search(r'unmanagedBase := file\("([^"]+)"\)', open(build).read())
    if not m or not os.path.isdir(m.group(1)):
        fail("no Spark jar directory (unmanagedBase) in the program's build.sbt")
    return m.group(1)


def ensure_built():
    """Compile the program and the harness unless this exact source tree is
    already built."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail(f"program sources not found under {os.path.relpath(PROGRAM_SRC, ROOT)}")
    spark_jars()
    if not os.path.exists(os.path.join(ROOT, "tools", "selfcheck.py")):
        fail("the oracle compare needs tools/selfcheck.py")
    digest = sources_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.forcestart=false",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(cmd + ["compile"], cwd=HERE, env=env, stdout=out,
                                stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        tail = open(log).read().splitlines()[-20:]
        fail("build failed:\n" + "\n".join(tail))
    with open(STAMP, "w") as f:
        f.write(digest)


def run_jvm(args, run_dir, in_dir, out_dir, deadline):
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(run_dir, "result.json")
    cmd = (["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}:{spark_jars()}/*", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--in", in_dir, "--out", out_dir, "--result", result])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=tmp)
    env.pop("SPARK_MASTER", None)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(result):
        tail = open(log, errors="replace").read().splitlines()[-25:]
        fail(f"benchmark JVM {'timed out' if rc is None else f'exited with {rc}'}:\n"
             + "\n".join(tail))
    return json.load(open(result)), cores


def check_outputs(in_dir, check_dir, names, deadline):
    """Runs the repository's correctness gate over the check pass's outputs:
    each output with a registered DuckDB twin is compared with the twin's
    answer over the same input (rows, column names, value digest), the
    others must have rows. Returns (rows per output, failures)."""
    rows = {name: sum(pq.read_metadata(f).num_rows
                      for f in glob.glob(os.path.join(check_dir, name, "*.parquet")))
            for name in names}
    out = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "selfcheck.py"),
                          in_dir, check_dir, *names], capture_output=True, text=True,
                         timeout=max(10, deadline - time.time()))
    verdict = {}
    for line in out.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL"):
            verdict[rest.split(":")[0]] = line
    failures = [verdict.get(name, f"FAIL {name}: not checked (selfcheck exit {out.returncode})")
                for name in names if not verdict.get(name, "").startswith("PASS ")]
    return rows, failures


def main():
    start = time.time()
    # SIGTERM unwinds like an exception, so the JVM and the run directory
    # are cleaned up by the handlers below.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    args = ap.parse_args()

    ensure_built()
    t_built = time.time()
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir, out_dir = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
    try:
        manifest = gen.generate(args.workload, args.seed, in_dir)
        t_gen = time.time()
        raw, cores = run_jvm(args, run_dir, in_dir, out_dir, t_built + RUN_LIMIT_S)
        t_jvm = time.time()
        check_dir = os.path.join(out_dir, "check")
        rows, failures = check_outputs(in_dir, check_dir, raw["check"]["outputs"],
                                       t_built + CHECK_LIMIT_S)
        failures += raw["check"]["errors"]
        failures += metrics.check_sinks(check_dir, raw["check"]["sinks"], rows)
        try:
            quality = metrics.quality(check_dir, manifest)
        except (OSError, KeyError) as e:
            quality = {"failures": [f"recall: {type(e).__name__}: {e}"]}
        failures += quality.pop("failures")
        n_checked = len(raw["check"]["outputs"]) + len(raw["check"]["sinks"]) + 1
        attempted = raw["attempted"] + n_checked
        failed = raw["failed"] + len(failures)
        values = (metrics.per_layer(raw, cores, rows, quality) if args.trace
                  else metrics.end_to_end(raw, quality, attempted, failed))
        seconds = {"build": t_built - start, "gen": t_gen - t_built, "jvm": t_jvm - t_gen,
                   "check": time.time() - t_jvm}
        record = {"workload": args.workload, "seed": args.seed, "cores": cores,
                  "heap": HEAP, "shuffle_partitions": raw["shuffle_partitions"],
                  "seconds": {k: round(v, 1) for k, v in seconds.items()},
                  "loadavg": [raw["loadavg_start"], raw["loadavg_end"]],
                  "inputs": manifest["tables"], "passes": len(raw["passes"]),
                  "requests": len(raw["requests"]), "failures": failures[:20]}
        print("# " + json.dumps(record))
        shown = dict(values)
        if not args.trace:
            shown["failed_frac"] = (failed / attempted, "frac")
            shown.update({k: (v, "frac") for k, v in quality.items()})
        for name, (value, unit) in shown.items():
            print(f"# {name:<40} {value:>14.6g} {unit}")
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}))
    finally:
        if not args.keep:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
