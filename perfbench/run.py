#!/usr/bin/env python3
"""Benchmark runner: build, run one workload in a fresh JVM, print the result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The last line of standard output is one JSON
object with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics of BENCHMARK.json with --trace 0, its per-layer metrics with
--trace 1. The line before it lists every figure of the run under the
per-workload names of perfbench/README.md.

Everything the run writes stays under .bench_build/. The query workloads
read the read-only testdata tree (sf0.1/ and sf0.01/ parquet tables); see
testdata_root for where it is looked up.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 170
# BENCHMARK.json lists the first two; queries_sf0.01 runs on request only
# (see README.md, "Workloads")
WORKLOADS = ("ingest_cascade", "queries_sf0.1", "queries_sf0.01")
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def testdata_root(root):
    """$PERFBENCH_TESTDATA; else the parent of $SPARK_GRAFT_SF_DIR; else the
    parent of the sf directory Bench.main defaults to; else ~/testdata."""
    if os.environ.get("PERFBENCH_TESTDATA"):
        return os.environ["PERFBENCH_TESTDATA"]
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.path.dirname(os.environ["SPARK_GRAFT_SF_DIR"].rstrip("/"))
    bench = os.path.join(root, "src/main/scala/graft/Bench.scala")
    if os.path.exists(bench):
        m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', open(bench).read())
        if m:
            return os.path.dirname(m.group(1).rstrip("/"))
    return os.path.expanduser("~/testdata")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--record", help="write the query mix's row counts and checksums here")
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("BENCHMARK.json", "build.sbt", "src/main/scala", "perfbench/src/main/scala"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found; run from the repository root")
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}")
    try:
        classes, jars = build.build(root)
    except RuntimeError as e:
        fail(f"build: {e}")

    out = os.path.join(root, build.OUT)
    work = os.path.join(out, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data = testdata_root(root)
    cmd = [build.java_bin()]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # a fixed, pre-touched heap: a heap that grows from G1's small initial
    # size page-faults and collects more in the first triggers, which made
    # the steady ingest phase's lag swing 2x between runs. Peak RSS is then
    # set by these flags, so the benchmark reports live heap instead.
    cmd += ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dderby.system.home=" + work,
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--data", data]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"timed out after {JVM_TIMEOUT_S}s; see {log.name}", 3)
    lines = stdout.splitlines()
    result = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
    for l in lines:
        if not l.startswith("PERFBENCH_RESULT "):
            print(l, file=sys.stderr)
    if proc.returncode != 0 or not result:
        tail = open(os.path.join(work, "jvm.log")).read()[-4000:]
        fail(f"JVM exited with {proc.returncode}\n{tail}", 4)
    r = json.loads(result[-1][len("PERFBENCH_RESULT "):])
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(r, f, indent=1)

    last = os.path.join(out, "last", a.workload + ".json")
    if a.trace == 0:
        want = spec["end_to_end"]
        missing = [m["name"] for m in want if m["name"] not in r["e2e"]]
        if missing:
            fail(f"missing end-to-end metrics {missing}", 5)
        metrics = {m["name"]: {"value": r["e2e"][m["name"]]["value"], "unit": m["unit"]}
                   for m in want}
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as f:
            json.dump({k: v["value"] for k, v in metrics.items()}, f)
    else:
        layers = {k: v["value"] for k, v in r["layers"].items()}
        # tracing overhead: this traced run minus the last untraced run
        # of the same workload in this checkout (0 when there is none)
        base = json.load(open(last)) if os.path.exists(last) else {}
        for k, v in r["e2e"].items():
            layers["overhead." + k] = v["value"] - base[k] if k in base else 0.0
        metrics = {m["name"]: {"value": layers.get(m["name"], 0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        unknown = sorted(set(layers) - set(metrics))
        if unknown:
            print(f"perfbench: measured but not in BENCHMARK.json: {unknown}",
                  file=sys.stderr)
    print(a.workload + ": " + ", ".join(
        f"{k}={v['value']:.6g} {v['unit']}" for k, v in r["report"].items()))
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
