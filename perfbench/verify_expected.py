"""Record the expected results of every workload member, oracle first.

    python3 perfbench/verify_expected.py <scale_factor>     e.g. 0.1, 0.001

Dumps each member query's result with graft.Verify on the generated
tables, checks the dumps against the DuckDB oracle (tools/local_verify.py),
and only if every one agrees, writes the row count and digest of each dump
into perfbench/expected.json. Run it when the generator, the members or
the digest change, never to make a failing result check pass.
"""
import json
import os
import re
import shutil
import subprocess
import sys

import run


def main():
    sf = sys.argv[1]
    with open(os.path.join(run.HERE, "workloads.json")) as f:
        spec = json.load(f)
    names = sorted({n for w in spec["workloads"].values() for n in w.get("members", [])})
    classpath = run.build()
    data_dir = run.data(sf)
    work = os.path.join(run.BUILD, "verify", f"sf{sf}")
    shutil.rmtree(work, ignore_errors=True)
    dumps = os.path.join(work, "dumps")
    if run.java(classpath, "graft.Verify", [data_dir, dumps, ",".join(names)], work,
                timeout=1800) != 0:
        run.fail("graft.Verify failed")
    oracle = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "local_verify.py"),
                             data_dir, dumps], capture_output=True, text=True, timeout=3600)
    sys.stderr.write(oracle.stdout[-3000:])
    m = re.search(r"PASS=(\d+) FAIL=(\d+)", oracle.stdout)
    if not m or int(m.group(1)) != len(names) or int(m.group(2)) != 0:
        run.fail(f"the oracle does not agree on all {len(names)} members; nothing recorded")
    tsv = os.path.join(work, "digests.tsv")
    if run.java(classpath, "perfbench.DigestDumps", [dumps, tsv], work) != 0:
        run.fail("digesting the dumps failed")
    path = os.path.join(run.HERE, "expected.json")
    expected = json.load(open(path)) if os.path.exists(path) else {}
    with open(tsv) as f:
        expected[f"sf{sf}"] = {n: {"rows": int(r), "digest": d}
                               for n, r, d in (l.rstrip("\n").split("\t") for l in f)}
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    run.log(f"recorded {len(expected[f'sf{sf}'])} oracle-checked digests at sf{sf}")


if __name__ == "__main__":
    main()
