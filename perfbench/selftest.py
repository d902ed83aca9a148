#!/usr/bin/env python3
"""Self-test of the benchmark harness at tiny sizes.

From the repository root:

    python3 perfbench/selftest.py

Asserts for every workload that an untraced run prints every end-to-end
metric of BENCHMARK.json with its unit and the workload's named metrics,
that a traced run prints every per-layer metric, and that every output
check passes on clean runs; then that the checks catch one flipped byte in
a fixture HFile and one wrong lookup value as failed operations.
"""
import argparse
import json
import os
import subprocess
import sys

ROOT = os.getcwd()

TINY = ["cells=3000", "users=300", "setup_reps=1", "warmup_ops=2"]
NAMED = ["ops_failed_ratio", "op_samples", "op_beyond_p90", "ingest.bulkload_s",
         "ingest.cells_per_s", "ingest.stored_bytes_per_input_byte"]


def run(workload, trace, inject=()):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    for p in TINY:
        cmd += ["--param", p]
    for i in inject:
        cmd += ["--inject", i]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0 and lines, f"{workload}: exit {p.returncode}\n{p.stdout[-2000:]}"
    return json.loads(lines[-1]), lines[:-1], p.stderr


def check_metrics(result, expected, label):
    got = result["metrics"]
    for m in expected:
        assert m["name"] in got, f"{label}: {m['name']} missing"
        assert got[m["name"]]["unit"] == m["unit"], f"{label}: {m['name']} unit"
        assert isinstance(got[m["name"]]["value"], (int, float)), f"{label}: {m['name']} value"
    assert set(got) == {m["name"] for m in expected}, f"{label}: extra metrics"


def main():
    argparse.ArgumentParser(description=__doc__.splitlines()[0]).parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in [w["name"] for w in spec["workloads"]]:
        res, lines, _ = run(w, 0)
        check_metrics(res, spec["end_to_end"], f"{w} trace=0")
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, f"{w}: {res}"
        named = [l.split() for l in lines if l.startswith("[perfbench] ") and len(l.split()) == 5]
        printed = {n[2] for n in named}
        assert set(NAMED) <= printed, f"{w}: named metrics missing: {set(NAMED) - printed}"
        res, _, _ = run(w, 1)
        check_metrics(res, spec["per_layer"], f"{w} trace=1")
        assert res["correct"], f"{w} traced: {res}"
        print(f"ok   {w}: metrics and checks", flush=True)
    # the flipped byte must be caught by the fixture's own check, not only
    # by the lookups that later read the damaged file
    for w, fault, sign in (("tsdb_lookup", "flip_hfile_byte", "fixture check"),
                           ("tsdb_lookup", "wrong_lookup_value", None)):
        res, _, err = run(w, 0, [fault])
        assert not res["correct"] and res["failed"] >= 1, f"{w}: {fault} not caught: {res}"
        assert sign is None or sign in err, f"{w}: {fault} not caught by the {sign}"
        print(f"ok   {w}: {fault} caught ({res['failed']} of {res['attempted']} failed)",
              flush=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
