"""Self-tests of the benchmark; run from the root of a source checkout:

    python3 perfbench/selftest.py

1. Every workload in workloads.json, untraced and traced, on the sf0.001
   tables: the run is correct and prints every metric BENCHMARK.json names,
   each with its unit, and no other.
2. A deliberately altered expected digest makes the result check fail:
   `correct` is false, `failed` and the reported fail_ratio are nonzero.
3. In a directory that holds only BENCHMARK.json and perfbench/, the
   benchmark exits nonzero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".bench_build", "selftest")


def bench(*args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"),
                        "--seed", "7", "--seconds", "1", "--sf", "0.001", *args],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, p.stderr


def check(cond, msg):
    if not cond:
        print(f"FAIL: {msg}")
        sys.exit(1)
    print(f"ok: {msg}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)

    for name in workloads:
        for trace, kind in (("0", "end_to_end"), ("1", "per_layer")):
            rc, lines, err = bench("--workload", name, "--trace", trace)
            check(rc == 0 and lines, f"{name} --trace {trace} exits 0 with a result"
                  + ("" if rc == 0 else f"\n{err[-2000:]}"))
            res = json.loads(lines[-1])
            check(sorted(res) == ["attempted", "correct", "failed", "metrics"],
                  f"{name} --trace {trace}: result has exactly the four keys")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{name} --trace {trace}: correct, {res['attempted']} ops attempted")
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{name} --trace {trace}: every {kind} metric with its unit")
            check(all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
                  f"{name} --trace {trace}: every value is a number")

    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    victim = workloads["kernels"]["members"][0]
    digest = expected["sf0.001"][victim]["digest"]
    expected["sf0.001"][victim]["digest"] = digest[:-1] + ("0" if digest[-1] != "0" else "1")
    altered = os.path.join(SCRATCH, "altered_expected.json")
    with open(altered, "w") as f:
        json.dump(expected, f)
    rc, lines, err = bench("--workload", "kernels", "--trace", "0", "--expected-file", altered)
    check(rc == 0 and lines, "altered digest: the run completes and reports")
    res, ctx = json.loads(lines[-1]), json.loads(lines[-2])["context"]
    check(not res["correct"] and res["failed"] > 0 and ctx["fail_ratio"] > 0,
          f"altered digest of {victim}: correct=false, failed={res['failed']}, "
          f"fail_ratio={ctx['fail_ratio']:.3f}")
    check(ctx["failed_ops"] == [victim], f"altered digest: only {victim} is named as failing")

    bare = os.path.join(SCRATCH, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    shutil.rmtree(os.path.join(bare, "perfbench", "project", "project"), ignore_errors=True)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, lines, _ = bench("--workload", spec["workloads"][0]["name"], "--trace", "0", cwd=bare)
    check(rc != 0 and not any(l.startswith("{") for l in lines),
          "without the program's sources the benchmark exits nonzero and prints no result")
    shutil.rmtree(SCRATCH, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
