"""Self-test of the graft benchmark, at smoke size.

    python3 graftbench/selftest.py

For every workload in BENCHMARK.json it asserts that
- the untraced run prints every end-to-end metric, and the traced run every
  per-layer metric, each with its unit, and both are correct;
- the checker flags a planted wrong result (`--plant-fault`);
- closed-loop counts (`spark.jobs`, `sinks.jobs_per_commit`) repeat exactly
  across two traced runs of one seed;
and prints the tracing overhead (traced minus untraced, same seed). It also
asserts that each generated feed's files carry strictly increasing
modification times in write order, since file streams take them in that
order. Last, it asserts that the benchmark exits non-zero without a result in a
directory holding only BENCHMARK.json and the benchmark's own files.
"""

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = [sys.executable, "graftbench/run.py"]
REPEATED = ["spark.jobs", "sinks.jobs_per_commit"]


def run(workload, seed, trace, *extra, cwd=ROOT):
    p = subprocess.run(RUN + ["--workload", workload, "--seed", str(seed), "--seconds", "4",
                              "--trace", str(trace), "--smoke", *extra],
                       cwd=cwd, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise AssertionError(f"{workload} trace={trace} {extra}: exit {p.returncode}\n{p.stderr[-3000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def expect(cond, what):
    if not cond:
        raise AssertionError(what)
    print(f"ok  {what}")


def same_metrics(result, spec, what):
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in spec}
    expect(got == want, f"{what}: every metric printed with its unit")


def feeds_in_order():
    """Feed files get strictly increasing modification times in write order."""
    sys.path.insert(0, os.path.join(ROOT, "graftbench"))
    import gen
    out = os.path.join(ROOT, ".bench_build", "selftest-gen")
    shutil.rmtree(out, ignore_errors=True)
    for w in gen.GENERATORS:
        gen.generate(w, 1, out, 4, smoke=True)
    for d, _, fs in os.walk(out):
        names = sorted(f for f in fs if f.startswith("part-"))
        if len(names) < 2:
            continue
        times = [os.stat(os.path.join(d, f)).st_mtime_ns for f in names]
        expect(all(a < b for a, b in zip(times, times[1:])),
               f"{os.path.relpath(d, out)}: {len(names)} feed files in write order by mtime")
    shutil.rmtree(out, ignore_errors=True)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    feeds_in_order()
    for w in (x["name"] for x in bench["workloads"]):
        d0, r0 = run(w, 1, 0)
        same_metrics(r0, bench["end_to_end"], f"{w} untraced")
        expect(r0["correct"] and r0["failed"] == 0, f"{w} untraced: correct, {r0['attempted']} operations")
        d1, r1 = run(w, 1, 1)
        same_metrics(r1, bench["per_layer"], f"{w} traced")
        expect(r1["correct"], f"{w} traced: correct")
        _, r2 = run(w, 1, 1)
        for m in REPEATED:
            a, b = r1["metrics"][m]["value"], r2["metrics"][m]["value"]
            expect(a == b, f"{w}: {m} repeats exactly ({a} == {b})")
        for k, v in d0["named"].items():
            t = d1["named"].get(k, {}).get("value")
            if t is not None and v["value"]:
                print(f"    tracing overhead {w} {k}: {t - v['value']:+.4g} {v['unit']} "
                      f"({(t - v['value']) / v['value']:+.1%})")
        df, rf = run(w, 1, 0, "--plant-fault")
        expect(not rf["correct"] and rf["failed"] > 0,
               f"{w}: planted wrong result flagged ({df['output_problems'][:1]})")

    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("__pycache__"))
    w = bench["workloads"][0]["name"]
    p = subprocess.run(RUN + ["--workload", w, "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=bare, capture_output=True, text=True)
    shutil.rmtree(bare, ignore_errors=True)
    expect(p.returncode != 0 and '"correct"' not in p.stdout,
           f"outside a graft checkout: exit {p.returncode}, no result")
    print("selftest passed")


if __name__ == "__main__":
    main()
