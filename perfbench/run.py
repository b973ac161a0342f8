#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload rest_search --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. The first run builds the
program and the harness (see build.py); later runs reuse the classes
while the sources are unchanged. The run's workload settings and the
pinned session configuration come from perfbench/config.json.

The last line of stdout is one JSON object:
{"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value", "unit"}}}
with the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1). Everything else goes to stderr. A run
whose output checks fail, or whose load generator fell behind, still
prints that line, with "correct": false, and then exits with code 2.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing into the sources

import report  # noqa: E402
from build import BenchError, build, build_dir, java, log, run_proc  # noqa: E402

RUN_LIMIT_S = 170         # one run, once the classes are built
FIRST_RUN_LIMIT_S = 880   # the first run in a checkout, which compiles
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def git_commit():
    """HEAD of the checkout's own repository, if it is one."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "config.json")) as f:
        config = json.load(f)
    if a.workload not in config["workloads"]:
        raise BenchError("unknown workload %s" % a.workload)

    out_dir = build_dir()
    classpath, source_digest, built = build(out_dir, started + FIRST_RUN_LIMIT_S - RUN_LIMIT_S)

    work = os.path.join(out_dir, "work", "%s-%d-%d" % (a.workload, a.seed, a.trace))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    session = config["session"]
    params = config["workloads"][a.workload]["params"]
    cmd = [java(), "-XX:-UsePerfData", "-Xmx" + session["driver_heap"], "-Xss8m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dderby.system.home=" + work,
            "-cp", os.pathsep.join(classpath), "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", os.path.join(work, "result.json"), "--work", work,
            "--param", "cleaner_gc_interval=" + session["cleaner_gc_interval"]]
    for k, v in sorted(params.items()):
        cmd += ["--param", "%s=%s" % (k, v)]
    code, _ = run_proc(cmd, started + (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S))
    result = os.path.join(work, "result.json")
    if not os.path.exists(result):
        raise BenchError("harness exited %d without a result" % code)
    with open(result) as f:
        doc = json.load(f)
    art_dir = os.path.join(out_dir, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    art = os.path.join(art_dir, "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace))
    shutil.copy(result, art + ".raw.json")
    shutil.rmtree(work, ignore_errors=True)

    problems = report.problems(doc)
    if code != 0 and not problems:
        problems.append("harness exited %d" % code)
    for p in problems:
        log("INVALID RUN: " + p)
    cores = doc["stamp"]["local_cores"]
    specs = bench["per_layer"] if a.trace else bench["end_to_end"]
    if a.trace:
        values, sampling = report.per_layer(doc, cores), {}
    else:
        values, sampling = report.end_to_end(doc)
        log("latency over %(samples)d samples; tail = p%(tail_percentile)s" % sampling)
    missing = [s["name"] for s in specs if s["name"] not in values]
    if missing:
        raise BenchError("metrics not produced: %s" % ", ".join(missing))
    metrics = {s["name"]: {"value": values[s["name"]], "unit": s["unit"]} for s in specs}
    attempted, failed = report.attempted_failed(doc)

    stamp = dict(doc["stamp"], git_commit=git_commit(), source_sha256=source_digest,
                 driver_heap=session["driver_heap"])
    artifact = {"stamp": stamp, "config": config["workloads"][a.workload],
                "workload_config": doc.get("workload_config"), "problems": problems,
                "sampling": sampling,
                "metrics": metrics}
    if a.trace:
        table = report.layer_table(doc)
        artifact["self_time_ms"] = table
        artifact["all_per_layer"] = values  # includes routes no listed workload serves
        log("%-36s %6s %12s %12s" % ("span", "count", "total_ms", "self_ms"))
        for name, (n, tot, slf) in sorted(table.items(), key=lambda kv: -kv[1][2]):
            log("%-36s %6d %12.1f %12.1f" % (name, n, tot, slf))
    with open(art + ".json", "w") as f:
        json.dump(artifact, f, indent=1)
    log("box: " + json.dumps(stamp, sort_keys=True))
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    if problems:
        sys.exit(2)  # the result line says why: correct is false


if __name__ == "__main__":
    try:
        main()
    except (BenchError, OSError, ValueError, KeyError) as e:
        log("error: %s" % e)
        sys.exit(1)
