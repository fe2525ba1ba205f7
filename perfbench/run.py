#!/usr/bin/env python3
"""Fleet benchmark: builds the engine with the harness, runs one workload,
and prints one JSON result object as the last line of stdout.

    python3 perfbench/run.py --workload fleet_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads: fleet_ingest, query_suite (see
BENCHMARK.json). `--trace 1` prints the per-layer metrics of a traced round
instead of the end-to-end ones. The harness JVM writes plain name/value
lines; this script attaches the units BENCHMARK.json declares. The line
before the result is a report: the workload's own metric names, output
checks, host load before and after the run, CPU steal, cores and versions.

The build (sbt, offline, against the Spark jars of the toolchain) runs when
the sources changed since the last one; outputs go under `.bench_build/`.
Maintenance modes: `--smoke` shrinks every input (the harness's own tests,
see smoke_test.py); `--record FILE` rewrites the expected query outputs.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
EXPECTED = os.path.join(HERE, "expected", "queries.tsv")
WORKLOADS = ("fleet_ingest", "query_suite")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    stamp = source_hash()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "build.stamp")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building (sbt compile)", file=sys.stderr)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-6000:] + p.stderr[-3000:])
        fail("build failed")
    cp = [l for l in p.stdout.splitlines() if "scala-library" in l and os.pathsep in l]
    if not cp:
        sys.stderr.write(p.stdout[-3000:])
        fail("build gave no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip(), stamp


def cpu_stat():
    """(total, steal) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def git_commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def run_jvm(classpath, name, args):
    """Run the harness JVM in a fresh work directory; returns (exit code,
    lines it wrote to --out)."""
    work = os.path.join(BUILD_DIR, "work", name)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.jsonl")
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    # no hsperfdata file in the system temp directory: the run writes only
    # inside the checkout
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.perfbench.Main",
              "--work", work, "--data", os.path.join(HERE, "data"),
              "--traces", os.path.join(BUILD_DIR, "traces"), "--out", out] + args)
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"harness exceeded {JVM_TIMEOUT_S} s", 4)
    lines = []
    if os.path.exists(out):
        with open(out) as f:
            lines = [l for l in f.read().splitlines() if l.strip()]
    return code, lines


def result_of(lines, trace):
    """Turn the harness's tab-separated lines into (report, result), with
    each metric's unit from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    metrics, report = {}, {"named": {}, "mismatches": []}
    counts = {}
    for line in lines:
        kind, *f = line.split("\t")
        if kind == "metric":
            metrics[f[0]] = float(f[1])
        elif kind == "named":
            report["named"][f[0]] = {"value": float(f[1]), "unit": f[2]}
        elif kind == "info":
            report[f[0]] = f[1]
        elif kind in ("attempted", "failed"):
            counts[kind] = int(f[0])
        elif kind == "mismatch":
            report["mismatches"].append(f[0])
        else:
            fail(f"unknown harness output line {line!r}")
    unknown = sorted(set(metrics) - set(declared))
    if unknown or set(counts) != {"attempted", "failed"}:
        fail(f"harness output undeclared metrics {unknown} or no counts")
    if not all(math.isfinite(v) for v in metrics.values()):
        fail(f"non-finite metric in {metrics}")
    # a layer the workload bypasses reads 0
    report["bypassed"] = sorted(set(declared) - set(metrics))
    if not trace and report["bypassed"]:
        fail(f"end-to-end metrics missing: {report['bypassed']}")
    report["failed_frac"] = counts["failed"] / counts["attempted"]
    result = {
        "correct": counts["failed"] == 0 and not report["mismatches"],
        "attempted": counts["attempted"], "failed": counts["failed"],
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in declared.items()},
    }
    return report, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the harness's tests")
    ap.add_argument("--expected", default=EXPECTED, help="expected query outputs")
    ap.add_argument("--record", help="write expected query outputs to this file and exit")
    a = ap.parse_args()
    if not a.record and not a.workload:
        ap.error("--workload is required")

    classpath, stamp = build()
    cores = len(os.sched_getaffinity(0))
    base = ["--cores", str(cores)]
    if a.record:
        code, _ = run_jvm(classpath, "record", base + ["--record", os.path.abspath(a.record)])
        sys.exit(code)

    before_load, before_cpu = loadavg(), cpu_stat()
    code, lines = run_jvm(classpath, a.workload, base + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--expected", os.path.abspath(a.expected)]
        + (["--smoke"] if a.smoke else []))
    after_load, after_cpu = loadavg(), cpu_stat()
    if not lines:
        fail(f"harness exited {code} without a result", code or 5)
    report, result = result_of(lines, a.trace)
    total = after_cpu[0] - before_cpu[0]
    report.update(workload=a.workload, seed=a.seed, trace=a.trace, host={
        "cores": cores, "loadavg_before": before_load, "loadavg_after": after_load,
        "steal_frac": (after_cpu[1] - before_cpu[1]) / total if total else 0.0,
        "git_commit": git_commit(), "source_hash": stamp,
    })
    print("report " + json.dumps(report, sort_keys=True))
    print(json.dumps(result))
    sys.exit(code if code else (0 if result["correct"] else 3))


if __name__ == "__main__":
    main()
