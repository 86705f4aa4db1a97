#!/usr/bin/env python3
"""graft benchmark: one command per workload, run from the repository root.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness from source on first use (perfbench/build.sh,
into $CARGO_TARGET_DIR or .bench_build), runs the workload in a fresh JVM,
checks its outputs, and prints one JSON result as the last line of stdout:
the end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1. Exits non-zero when an output check fails or the
program cannot be built or run. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
# Seconds for the runs after the build; the build has its own limit.
DEADLINE_S = 170
BUILD_TIMEOUT_S = 700

# Per-layer metric prefixes each workload exercises. A per-layer metric
# outside them belongs to a layer the workload never runs and reads 0;
# one inside them that the run did not report is an error.
OWNED = {
    "sweep_sf0.01": ("sweep.", "exec.", "shuffle.", "spill.", "trace."),
    "live_ref4": ("live.", "dash.", "ingest.", "ml.", "gen.", "exec.", "shuffle.",
                  "spill.", "trace."),
}

JAVA_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar")
]


def fail(msg):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every input of the build."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sh")]
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(out):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no graft sources (src/main/scala) in the working directory")
    stamp = source_stamp()
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "build.log"), "w") as log:
        try:
            r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), out], cwd=ROOT,
                               stdout=log, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
    if r.returncode != 0:
        with open(os.path.join(out, "build.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        for line in fh:
            if line.startswith("unmanagedBase := file(\""):
                return line.split('"')[1]
    fail("Spark jars not found")


def run_jvm(out, workload, seed, seconds, trace, timeout):
    # Spark's scratch space and the streaming checkpoints live here; a run
    # starts from an empty one so checkpoints never pile up across runs.
    tmp = os.path.join(out, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    trace_dir = os.path.join(out, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    cmd = (["java"] + JAVA_OPENS + [
        "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", f"{os.path.join(out, 'classes')}:{spark_jars()}/*",
        "graftbench.Main", workload, str(seed), str(seconds), str(trace),
        os.path.join(out, "data"), trace_dir])
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"{workload} did not finish within {timeout:.0f} s")
    shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("RESULT ")]
    if r.returncode != 0 or not lines:
        fail(f"{workload} exited with code {r.returncode} and no result")
    return json.loads(lines[-1][len("RESULT "):])


def check_counts(res):
    """Sweep row counts against the counts recorded when the benchmark was added."""
    with open(os.path.join(HERE, "expected_counts.json")) as fh:
        want = json.load(fh)
    for q in sorted(set(want) | set(res["counts"])):
        n = res["counts"].get(q)
        res["checks"].append({"name": f"count:{q}", "ok": n is not None and want.get(q) == n,
                              "detail": f"rows={n} expected={want.get(q)}"})


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in OWNED:
        fail(f"unknown workload {a.workload}")
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    build(out)
    res = run_jvm(out, a.workload, a.seed, a.seconds, a.trace, DEADLINE_S)
    if a.workload.startswith("sweep"):
        check_counts(res)
    m = res["metrics"]
    names = spec["per_layer"] if a.trace else spec["end_to_end"]

    metrics = {}
    for spec_m in names:
        n = spec_m["name"]
        if n in m:
            v = m[n]
            if not isinstance(v, (int, float)) or v != v:
                fail(f"{a.workload} reported no number for {n}")
        elif a.trace and not n.startswith(OWNED[a.workload]):
            v = 0.0
        else:
            fail(f"{a.workload} did not report {n}")
        metrics[n] = {"value": v, "unit": spec_m["unit"]}

    for c in res["checks"]:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    if a.trace:
        selfs = sorted(((k[5:], v) for k, v in m.items() if k.startswith("self.")),
                       key=lambda kv: -kv[1])
        print("self time by span (s): " + ", ".join(f"{k}={v:.3f}" for k, v in selfs))
        print(f"trace: {os.path.relpath(os.path.join(out, 'trace', 'trace-' + a.workload + '.jsonl'), ROOT)}")
    for n, v in metrics.items():
        print(f"metric {n} = {v['value']} {v['unit']}")
    correct = all(c["ok"] for c in res["checks"]) and len(res["checks"]) > 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
