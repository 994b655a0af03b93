"""Benchmark entry point for graft.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (once per source tree), generates the
workload's inputs from the seed, runs the workload in one JVM at
local[min(4, cores)], checks every output against DuckDB over the generated
inputs, and prints one JSON object as the last line of standard output:
the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. A line before it carries the workload's own metric names
and any output problems. Everything it writes stays under `.bench_build/`.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
JVM_TIMEOUT_S = 165
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_jvm(classes, jars, args, tmp, log_path, timeout):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", os.pathsep.join([classes] + jars), "graftbench.Main"] + args)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=tmp,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="small inputs (self-test)")
    ap.add_argument("--plant-fault", action="store_true",
                    help="corrupt one output before checking (self-test of the checker)")
    a = ap.parse_args(argv)

    bench = spec()
    names = [w["name"] for w in bench["workloads"]]
    if a.workload not in names:
        raise SystemExit(f"graftbench: unknown workload {a.workload}; one of {names}")
    classes, jars = build.build()
    started = time.monotonic()  # the first run in a checkout also compiles

    run = os.path.join(build.BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    run_in, run_out, tmp = (os.path.join(run, d) for d in ("in", "out", "tmp"))
    for d in (run_in, run_out, tmp):
        os.makedirs(d)
    try:
        sizes = gen.generate(a.workload, a.seed, run_in, a.seconds, smoke=a.smoke)
        jvm_args = [a.workload, run_in, run_out, str(a.seconds), str(a.trace)]
        if a.plant_fault:
            jvm_args.append("plant-fault")
        log = os.path.join(run, "jvm.log")
        code = run_jvm(classes, jars, jvm_args, tmp, log,
                       JVM_TIMEOUT_S - (time.monotonic() - started))
        result_path = os.path.join(run_out, "result.json")
        if code != 0 or not os.path.exists(result_path):
            sys.stderr.write(tail(log))
            raise SystemExit(f"graftbench: workload JVM failed (exit {code})")
        with open(result_path) as f:
            res = json.load(f)

        failed_checks, problems = check.run_checks(run_in, run_out, res["checks"])
        attempted = max(1, res["attempted"])
        failed = min(attempted, res["failed"] + sum(ops for _, ops in failed_checks))
        named = dict(res["named"])
        named["error_ratio"] = {"value": failed / attempted, "unit": "ratio"}
        detail = {"workload": a.workload, "seed": a.seed, "sizes": sizes, "named": named,
                  "latency_samples": res["latency_samples"], "measured_s": res["measured_s"],
                  "setup_attempts_s": res["setup_attempts_s"],
                  "errors": res["errors"], "output_problems": problems}
        if a.trace:
            layers = dict(res["layers"])
            layers["bench.error_ratio"] = failed / attempted
            spans = os.path.join(build.BUILD, "spans", f"{a.workload}-{a.seed}.jsonl")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            shutil.copy(os.path.join(run_out, "spans.jsonl"), spans)
            detail["spans_file"] = os.path.relpath(spans, ROOT)
            detail["layers"] = layers
            metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                       for m in bench["per_layer"]}
        else:
            metrics = {m["name"]: {"value": float(res["e2e"][m["name"]]), "unit": m["unit"]}
                       for m in bench["end_to_end"]}
        print(json.dumps(detail))
        print(json.dumps({"correct": not failed_checks and res["failed"] == 0,
                          "attempted": attempted, "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run, ignore_errors=True)


if __name__ == "__main__":
    main()
