"""graft's benchmark: one run of one workload, from outside the library.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds graft with
the benchmark driver (perfbench/build.sbt) and generates the input tables
(perfbench/gen_data.py); both are cached under .bench_build/ and redone
when their sources change. Each run is one JVM against local[<nproc>]:
set-up (repeated, median reported), one cold pass over the workload's ops,
then whole warm passes for about --seconds, every pass in its own seeded
order. Every op's result is checked; the last stdout line is the
JSON result.

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones (traced and untraced warm passes alternate, so the
tracing overhead is measured in the same run), and each op's trace is
written to .bench_build/results/.

Extra options, for maintaining the benchmark:
    --sf 0.001         run on the tiny generated tables (self-test scale)
    --expected-file p  compare against this expected file instead
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
SBT_TASKS = ["export Runtime/fullClasspath"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def cores():
    """local[N]: the CPUs this process may run on (what nproc prints), as digits."""
    return str(max(1, len(os.sched_getaffinity(0))))


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft + the driver once per source state; returns the classpath."""
    sources = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")]
    stamp = tree_hash(sources) + " ".join(SBT_TASKS)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building graft and the benchmark driver (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
                           + (f" -Dsbt.repository.config={repos}" if os.path.exists(repos) else ""))
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true"] + SBT_TASKS, cwd=HERE,
                       env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
                       timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def data(sf):
    """The generated input tables at scale factor `sf`, made once."""
    gen = os.path.join(HERE, "gen_data.py")
    out = os.path.join(BUILD, "data", f"sf{sf}")
    stamp = tree_hash([gen]) + sf
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    log(f"generating input tables at sf{sf}")
    shutil.rmtree(out, ignore_errors=True)
    subprocess.run([sys.executable, gen, out, sf], check=True, timeout=600)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


def write_expected(path, expected_file, sf):
    """The expected (rows, digest) of each query at `sf`, as the JVM reads them."""
    expected = {}
    if os.path.exists(expected_file):
        with open(expected_file) as f:
            expected = json.load(f).get(f"sf{sf}", {})
    with open(path, "w") as f:
        for n, e in expected.items():
            f.write(f"{n}\t{e['rows']}\t{e['digest']}\n")


def java(classpath, main_class, args, work, timeout=None):
    """Run a JVM whose temporary files and graft exports stay under `work`."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, GRAFT_EXPORT_ROOT=os.path.join(work, "exports"))
    cmd = (["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, main_class] + args)
    proc = subprocess.Popen(cmd, env=env, cwd=work, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=timeout or JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"{main_class} exceeded {timeout or JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def steal_s():
    """CPU time the hypervisor gave to other guests (the steal column of
    /proc/stat), summed over CPUs: context for telling a contended run."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def tail_percentile(xs):
    """Highest whole percentile with at least ten samples above it."""
    s = sorted(xs)
    for p in range(99, 0, -1):
        q = s[max(0, math.ceil(p / 100 * len(s)) - 1)]
        above = sum(1 for x in s if x > q)
        if above >= 10:
            return p, q, above
    return None


def mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def end_to_end(run, ops):
    warm = [o for o in ops if o["phase"] == "warm" and not o["traced"]]
    passes = [p for p in run["warm_passes"] if not p["traced"]]
    lat = [o["latency_s"] for o in warm if o.get("ok")]
    # Failed ops post no latency. When too few passed for a tail (the run
    # then reports failures anyway), the tail falls back to the maximum.
    tail = tail_percentile(lat) if len(lat) > 10 else (100, max(lat, default=0.0), 0)
    metrics = {
        "setup_s": (statistics.median(run["setup_s"]), "s"),
        "cold_s": (run["cold_s"], "s"),
        "warm_ops_per_s": (len(lat) / sum(p["seconds"] for p in passes), "1/s"),
        "warm_p50_s": (statistics.median(lat) if lat else 0.0, "s"),
        "warm_tail_s": (tail[1], "s"),
        "retained_heap_mb": (run["retained_heap_mb"], "MB"),
    }
    context = {"warm_tail_percentile": tail[0], "warm_tail_samples_above": tail[2],
               "warm_samples": len(lat), "warm_passes": len(passes)}
    return metrics, context


def per_layer(run, ops):
    traced = [o for o in ops if o["phase"] == "warm" and o["traced"] and "latency_s" in o]
    untraced_passes = [p for p in run["warm_passes"] if not p["traced"]]
    traced_passes = [p for p in run["warm_passes"] if p["traced"]]

    def rate(ps):
        return sum(p["ops"] for p in ps) / sum(p["seconds"] for p in ps)

    def per_op(key, sel=None):
        return mean([o.get(key, 0.0) for o in traced if sel is None or o["name"] in sel])

    def field(key):
        return [o[key] for o in traced if key in o]

    wall = sum(o["latency_s"] for o in traced)
    rows_out = sum(o.get("rows", 0) for o in traced if "records_in" in o)
    sources_w = [o for o in traced if "stage_s" in o]
    reads = [o for o in traced if o["name"] in ("read_latest", "read_as_of")]
    m = {
        "catalog.plancache_misses": (run["plancache_setup_cold"]["misses"], "count"),
        "catalog.plancache_hits": (run["plancache_setup_cold"]["hits"], "count"),
        "operators.build_s": (per_op("build_s"), "s/op"),
        "operators.build_jobs": (per_op("build_jobs"), "jobs/op"),
        "export.bytes": (run["export_bytes"], "bytes"),
        "export.files": (run["export_files"], "count"),
        "plans.analysis_s": (per_op("analysis_s"), "s/op"),
        "plans.optimization_s": (per_op("optimization_s"), "s/op"),
        "plans.planning_s": (per_op("planning_s"), "s/op"),
        "exec.s": (per_op("exec_s"), "s/op"),
        "exec.jobs": (per_op("jobs"), "jobs/op"),
        "exec.stages": (per_op("stages"), "stages/op"),
        "exec.tasks": (per_op("tasks"), "tasks/op"),
        "exec.cpu_s": (per_op("cpu_s"), "s/op"),
        "exec.run_s": (per_op("run_s"), "s/op"),
        "exec.gc_s": (per_op("gc_s"), "s/op"),
        "exec.busy_ratio": (sum(field("run_s")) / (wall * run["cores"]) if wall else 0.0,
                            "ratio"),
        "exec.shuffle_write_mb": (per_op("shuffle_write_mb"), "MB/op"),
        "exec.shuffle_read_mb": (per_op("shuffle_read_mb"), "MB/op"),
        "exec.spill_mb": (per_op("spill_mb"), "MB/op"),
        "exec.task_skew": (max(field("task_skew"), default=0.0), "ratio"),
        "exec.rows_scanned_per_row_out": (sum(field("records_in")) / max(rows_out, 1), "ratio"),
        "exec.persisted_rdds_end": (run["persisted_rdds_end"], "count"),
        "exec.storage_mb_end": (run["storage_mb_end"], "MB"),
        "sources.stage_s": (mean([o["stage_s"] for o in sources_w]), "s/op"),
        "sources.commit_s": (mean([o["commit_s"] for o in sources_w]), "s/op"),
        "sources.read_s": (mean([o["latency_s"] for o in reads]), "s/op"),
        "sources.files_written": (mean([o.get("files_written", 0) for o in sources_w]),
                                  "files/op"),
        "sources.bytes_written_mb": (mean([o.get("bytes_written_mb", 0) for o in sources_w]),
                                     "MB/op"),
        "sources.storage_bytes_per_user_byte": (run.get("storage_bytes_per_user_byte", 0.0),
                                                "ratio"),
        "ddl.index_build_s": (mean(field("index_build_s")), "s/op"),
        "ddl.probe_s": (mean([o["latency_s"] for o in traced if o["name"] == "probe"]), "s/op"),
        "ddl.probe_files_read": (mean(field("probe_files_read")), "files/op"),
        "trace.warm_ops_per_s": (rate(traced_passes), "1/s"),
        "trace.overhead_ratio": (1.0 - rate(traced_passes) / rate(untraced_passes), "ratio"),
    }
    return m


def per_query(ops):
    """Mean of every traced number per (phase, query)."""
    out = {}
    for o in ops:
        if not o["traced"] or "latency_s" not in o:
            continue
        q = out.setdefault(o["phase"], {}).setdefault(o["name"], {"n": 0})
        q["n"] += 1
        for k, v in o.items():
            if isinstance(v, (int, float)) and not isinstance(v, bool) and k != "pass":
                q[k] = q.get(k, 0.0) + v
    for phase in out.values():
        for q in phase.values():
            for k in q:
                if k != "n":
                    q[k] /= q["n"]
    return out


def main():
    # A terminated run still stops its JVM (see java()) and removes its files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--sf", default="0.1")
    ap.add_argument("--expected-file")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}/src/main/scala: run from a source checkout")
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload!r}; known: {', '.join(spec['workloads'])}")
    w = spec["workloads"][a.workload]
    names = w.get("members", [])

    classpath = build()
    data_dir = data(a.sf)
    run_id = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "runs", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    exp_tsv = os.path.join(work, "expected.tsv")
    write_expected(exp_tsv, a.expected_file or os.path.join(HERE, "expected.json"), a.sf)
    out = os.path.join(work, "out.json")
    t0 = time.time()
    steal0 = steal_s()
    try:
        rc = java(classpath, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--data", data_dir, "--work", work, "--out", out,
            "--cores", cores(), "--expected", exp_tsv, "--ops", ",".join(names)], work)
        if rc != 0 or not os.path.exists(out):
            fail(f"benchmark JVM exited with {rc}")
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    run, ops = res["run"], res["ops"]

    attempted = len(ops)
    threw = sum(1 for o in ops if "error" in o)
    mismatched = sum(1 for o in ops if o.get("ok") is False)
    failed = threw + mismatched
    if a.trace == "1":
        metrics = per_layer(run, ops)
        with open(os.path.join(results, f"trace-{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"run": run, "per_query": per_query(ops)}, f, indent=1, sort_keys=True)
        context = {}
    else:
        metrics, context = end_to_end(run, ops)
    context.update({
        "workload": a.workload, "seed": a.seed, "cores": run["cores"], "sf": a.sf,
        "fail_ratio": failed / attempted, "threw": threw, "check_failed": mismatched,
        "failed_ops": sorted({o["name"] for o in ops if "error" in o or o.get("ok") is False}),
        "setup_samples_s": run["setup_s"], "timeline_s": run["timeline_s"],
        "loadavg_start": run["loadavg_start"], "calibration_pre": run["calibration_pre"],
        "calibration_post": run["calibration_post"],
        "steal_s": round(steal_s() - steal0, 2), "wall_s": round(time.time() - t0, 3)})
    for k in ("storage_bytes_per_user_byte", "versions", "live_rows"):
        if k in run:
            context[k] = run[k]
    print(json.dumps({"context": context}, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
