#!/usr/bin/env python3
"""Seeded benchmark of graft's public API.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program from source on first use
(see build.py), then runs one JVM that generates the workload's inputs from
the seed, measures for the given seconds and checks every output. The last
line of stdout is one JSON object: {"correct", "attempted", "failed",
"metrics"}; end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. Metric names and units are those of BENCHMARK.json; a per-layer
metric of a layer the workload does not run is reported as 0.
"""
import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = build.ROOT
WORKLOADS = ("fleet_pca", "grid_lstm", "corpus_curation", "stream_score")
RUN_TIMEOUT_S = 170
CORES = max(1, min(4, os.cpu_count() or 1))
JVM_OPTS = [
    "-Xms3g", "-Xmx3g", "-Xmn512m", "-Xss8m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
    "-Djava.io.tmpdir=" + os.path.join(build.OUT, "tmp"),
] + [arg for pkg in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for arg in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def declared():
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("no BENCHMARK.json at the checkout root", 2)
    with open(spec_path) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = p.parse_args()
    end_to_end, per_layer = declared()
    want = per_layer if a.trace else end_to_end
    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(f"build: {e}", 2)
    os.makedirs(os.path.join(build.OUT, "tmp"), exist_ok=True)
    cmd = ["java", *JVM_OPTS, "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", os.path.join(build.OUT, "work"), "--cores", str(CORES)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S}s", 3)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        fail(f"run exited with {proc.returncode}", 4)
    result = json.loads(lines[-1])
    got = result["metrics"]
    for name, m in got.items():
        if want.get(name) != m["unit"]:
            fail(f"metric {name} [{m['unit']}] is not declared for --trace {a.trace}", 5)
    for name, unit in want.items():
        if name not in got:
            if a.trace:
                got[name] = {"value": 0, "unit": unit}
            else:
                fail(f"end-to-end metric {name} missing", 5)
    result["metrics"] = {k: got[k] for k in want}
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
