#!/usr/bin/env python3
"""Runs one graft benchmark workload and prints its result.

Usage, from the repository root:

    python3 perfbench/run.py --workload tsdb_lookup --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. Lines before it print every
metric of the run by name and unit. `--workload all` runs every workload in
turn. `--report FILE` also writes the run's full record for
`perfbench/compare.py`.

The first run builds the harness and the engine with sbt (perfbench/build.sbt)
into `.bench_build/`; later runs reuse the build while the sources are
unchanged. Each run uses a fresh JVM with fixed heap and GC settings and a
fresh scratch directory under `.bench_build/`, deleted afterwards.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["tsdb_lookup", "tsdb_scan"]
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 720

# Fixed JVM settings: heap pinned so GC sizing cannot drift between runs.
JVM_FLAGS = [
    "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch",
    "-Xss4m", "-XX:-UsePerfData", "-Duser.language=en", "-Duser.country=US",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(fs)]
    for p in inputs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the harness (and the engine it depends on); returns the
    runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    try:
        p = subprocess.run(cmd, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    if "perfbench" not in cp:
        sys.stderr.write(p.stdout[-4000:])
        fail("could not read the runtime classpath from sbt")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def params_of(workload, overrides):
    with open(os.path.join(BENCH, "workloads.json")) as f:
        spec = json.load(f)[workload]
    params = {k: str(v["value"]) for k, v in spec["params"].items()}
    for kv in overrides:
        k, _, v = kv.partition("=")
        if k not in params and k not in ("setup_reps", "warmup_ops"):
            fail(f"unknown param {k} for {workload}")
        params[k] = v
    return spec, params


def run_one(cp, args, workload, deadline):
    spec, params = params_of(workload, args.param)
    setup_reps = params.pop("setup_reps", spec["setup_reps"])
    warmup_ops = params.pop("warmup_ops", spec["warmup_ops"])
    run_dir = os.path.join(ROOT, ".bench_build", f"run-{os.getpid()}-{workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"] + JVM_FLAGS +
           [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}", "-cp", cp,
            "perfbench.Main", "--workload", workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--run-dir", run_dir,
            "--setup-reps", str(setup_reps), "--warmup-ops", str(warmup_ops)])
    for k, v in params.items():
        cmd += ["--param", f"{k}={v}"]
    for inj in args.inject:
        cmd += ["--inject", inj]
    if args.report:
        cmd += ["--report", os.path.abspath(args.report)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"{workload}: run exceeded its time limit")
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        fail(f"{workload}: harness exited with code {proc.returncode}")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--param", action="append", default=[],
                    help="override a workload parameter, key=value")
    ap.add_argument("--inject", action="append", default=[],
                    help="inject a fault the output checks must catch")
    ap.add_argument("--report", help="also write the run's full record here")
    args = ap.parse_args()
    if args.workload == "all" and args.report:
        fail("--report needs a single workload")
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the graft repository root ({need} not found)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    cp = build()
    workloads = WORKLOADS if args.workload == "all" else [args.workload]
    for w in workloads:
        lines = run_one(cp, args, w, time.time() + RUN_LIMIT_S)
        sys.stdout.write("\n".join(lines) + "\n")
        sys.stdout.flush()


if __name__ == "__main__":
    main()
