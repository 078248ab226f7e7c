#!/usr/bin/env python3
"""Record the query workloads' reference outputs in bench/refs/queries.json.

    python3 bench/record_refs.py WORKLOAD QUERY[,QUERY...]

Run from the repository root. For the generated tables it

1. dumps each query's full result with graft.Verify and runs the repo's
   DuckDB oracle comparison (tools/check.py) on the dump;
2. fingerprints each query twice with the harness, in two query orders;
3. records row count and content hash per query. A query whose result
   matched its DuckDB oracle and whose hash repeats is checked on content
   ("oracle": true); one without an oracle is checked on rows only. A
   query that fails the oracle or whose row count does not repeat is not
   recorded.

Re-record whenever a workload's query list or bench/gen/tables.py changes.
"""
import argparse
import ast
import json
import os
import shutil
import subprocess
import sys
import time

import run


def verify_and_check(cp, data, names, out):
    shutil.rmtree(out, ignore_errors=True)
    cmd = ["java", "-Xmx" + run.HEAP, "-XX:-UsePerfData", "-Dderby.system.home=" + out + "-derby"]
    for o in run.JDK_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.Verify", data, out, ",".join(names)]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    p = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check.py"), data, out],
                       stdout=subprocess.PIPE, text=True)
    passed, rows_only, failed = set(), set(), set()
    for line in p.stdout.splitlines():
        if line.startswith("PASS ("):
            passed = set(ast.literal_eval(line.split(": ", 1)[1]))
        elif line.startswith("ROWS-ONLY ("):
            rows_only = {n for n, _ in ast.literal_eval(line.split(": ", 1)[1])}
        elif line.startswith("  ") and ":" in line:
            failed.add(line.strip().split(":")[0])
    print(p.stdout)
    return passed, rows_only, failed


def fingerprints(cp, workload, data, names, seed):
    args = argparse.Namespace(workload=workload, seed=seed, seconds=0.0, trace=0)
    work = os.path.join(run.STATE, "record", "fp-%d" % seed)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = run.run_harness(cp, args, work, data, ["--queries", ",".join(names)],
                          deadline=time.time() + 900)
    return res["checks"]["fingerprints"]


def main(argv):
    workload, names = argv[1], argv[2].split(",")
    cp = run.build()
    data = run.tables_dir()
    passed, rows_only, failed = verify_and_check(
        cp, data, names, os.path.join(run.STATE, "record", "verify"))
    a = fingerprints(cp, workload, data, names, seed=1)
    b = fingerprints(cp, workload, data, names, seed=2)
    refs_path = os.path.join(run.BENCH, "refs", "queries.json")
    refs = run.load_refs() if os.path.exists(refs_path) else {}
    out = {}
    for n in names:
        fa, fb = a.get(n, {}), b.get(n, {})
        if n in failed or "error" in fa or fa.get("rows") != fb.get("rows") or \
                n not in passed | rows_only:
            print("not recorded: %s %s %s" % (n, fa, fb))
            continue
        stable = fa["hash"] == fb["hash"]
        out[n] = {"rows": fa["rows"], "hash": fa["hash"], "oracle": n in passed and stable}
    refs[workload] = out
    os.makedirs(os.path.dirname(refs_path), exist_ok=True)
    with open(refs_path, "w") as f:
        json.dump(refs, f, indent=1, sort_keys=True)
        f.write("\n")
    print("recorded %d of %d queries for %s" % (len(out), len(names), workload))


if __name__ == "__main__":
    main(sys.argv)
