#!/usr/bin/env python3
"""A/B pair runner: the parent commit (A) against a change (B).

    python3 bench/ab.py --a PARENT_CHECKOUT --b CHANGE_CHECKOUT \\
        --workload etl_days [--pairs 10] [--out DIR]

Both checkouts must carry identical benchmark code (bench/ and
BENCHMARK.json); each side builds its own graft from its own sources.
Pair i runs both sides on seed SEED_BASE+1+i, alternating which side goes
first (AB, BA, AB, ...), with the run length BENCHMARK.json fixes.

Every invocation writes a new artifact, ab-<workload>-<UTC time>-<pid>.json
under --out (default: bench-ab/ in the current directory), opened in
exclusive-create mode so no run ever overwrites one another is paired
against. The artifact holds every run, each side's median and quartiles
per end-to-end metric, the win fraction, and a verdict:

  more failures        B has more failed operations than A; no other
                       verdict is given
  improved             B wins >= 9/10 of all pairs run (ties count for
                       neither; a pair whose B run is not correct is a
                       loss) and the medians differ by more than A's
                       quartile spread
  no worse             B's median is within the metric's bound of A's and
                       A's own spread is within the bound, or every B run
                       reads better than every A run
  worse                B's median is beyond the bound and the spread is not
  unresolved           otherwise: the spread is wider than the bound

Medians and quartiles are taken over each side's correct runs.

It also records the load average, nproc and a fixed CPU/scan calibration
probe at start and end, as information, not metrics.
"""
import argparse
import datetime
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

import run

# pair i runs on seed SEED_BASE + 1 + i; the builds run on SEED_BASE
SEED_BASE = 1000


def tree_digest(root):
    """Digest of the benchmark's own sources (build outputs excluded)."""
    h = hashlib.sha256()
    for base in ("bench", "BENCHMARK.json"):
        path = os.path.join(root, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(path) for f in fs
            if not {"target", "__pycache__"} & set(d.split(os.sep))
            and not d.endswith(os.path.join("project", "project")))
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def calibrate(tables_dir):
    """Fixed probes, min of 3: sha256 over 64 MiB (CPU) and a parquet
    scan plus sum of the generated lineitem table (scan)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def best(f):
        ts = []
        for _ in range(3):
            t = time.perf_counter()
            f()
            ts.append(time.perf_counter() - t)
        return min(ts)

    block = b"\0" * (1 << 20)

    def cpu():
        h = hashlib.sha256()
        for _ in range(64):
            h.update(block)

    def scan():
        pc.sum(pq.read_table(os.path.join(tables_dir, "lineitem.parquet"))["l_extendedprice"])

    return {"cpu_s": best(cpu), "scan_s": best(scan)}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def run_side(root, workload, seed, seconds):
    t = time.time()
    p = subprocess.run([sys.executable, "bench/run.py", "--workload", workload, "--seed",
                        str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
    except (IndexError, ValueError):
        # the run itself failed: no result to read
        out = {"correct": False, "attempted": 0, "failed": 1, "metrics": {}}
    return {"seed": seed, "rc": p.returncode, "wall_s": time.time() - t, **out}


def verdict(spec, a, b, failed_a=0, failed_b=0):
    """Verdict on one metric. a, b: per-pair values, None where that
    side's run was not correct; failed_a, failed_b: failed operations."""
    lower = spec["better"] == "lower"
    xa = [x for x in a if x is not None]
    xb = [y for y in b if y is not None]
    out = {"bound": spec["bound"], "failed_a": failed_a, "failed_b": failed_b}
    if failed_b > failed_a or not xa or not xb:
        out["verdict"] = "more failures" if failed_b > failed_a else "unresolved"
        return out
    med_a, med_b = statistics.median(xa), statistics.median(xb)
    qa = quartiles(xa)
    spread = (qa[1] - qa[0]) / med_a if med_a else float("inf")
    wins = sum(1 for x, y in zip(a, b)
               if y is not None and (x is None or (y < x if lower else y > x)))
    ties = sum(1 for x, y in zip(a, b) if x is not None and x == y)
    worse_by = ((med_b - med_a) if lower else (med_a - med_b)) / med_a if med_a else 0.0
    if wins >= 0.9 * len(a) and abs(med_b - med_a) > qa[1] - qa[0] and worse_by < 0:
        v = "improved"
    elif spread <= spec["bound"]:
        v = "no worse within the bound" if worse_by <= spec["bound"] else "worse"
    elif len(xb) == len(b) and ((max(xb) < min(xa)) if lower else (min(xb) > max(xa))):
        v = "no worse within the bound"
    else:
        v = "unresolved"
    out.update({"a_median": med_a, "a_quartiles": qa, "b_median": med_b,
                "b_quartiles": quartiles(xb), "a_spread": spread, "b_worse_by": worse_by,
                "b_wins": wins, "ties": ties, "win_fraction": wins / len(a), "verdict": v})
    return out


def main():
    ap = argparse.ArgumentParser(description="A/B pair runner for the graft benchmark")
    ap.add_argument("--a", required=True, help="parent checkout")
    ap.add_argument("--b", required=True, help="change checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--out", default="bench-ab")
    args = ap.parse_args()
    if args.pairs < 10:
        ap.error("at least 10 pairs")
    a, b = os.path.abspath(args.a), os.path.abspath(args.b)
    if tree_digest(a) != tree_digest(b):
        ap.error("the two checkouts carry different benchmark code")
    with open(os.path.join(a, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]

    os.makedirs(args.out, exist_ok=True)
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%SZ")
    path = os.path.join(args.out, "ab-%s-%s-%d.json" % (args.workload, stamp, os.getpid()))
    artifact = open(path, "x")  # never overwrite another run's artifact

    # the first run of each side builds it and generates the inputs
    for root in (a, b):
        run_side(root, args.workload, SEED_BASE, 1)
    tables = run.tables_dir()
    info = {"workload": args.workload, "a": a, "b": b, "run_seconds": seconds,
            "nproc": len(os.sched_getaffinity(0)), "load_avg_start": os.getloadavg(),
            "calibration_start": calibrate(tables)}
    pairs = []
    for i in range(args.pairs):
        seed = SEED_BASE + 1 + i
        order = [("a", a), ("b", b)] if i % 2 == 0 else [("b", b), ("a", a)]
        pair = {"seed": seed, "first": order[0][0]}
        for side, root in order:
            pair[side] = run_side(root, args.workload, seed, seconds)
            print("pair %d %s: %s" % (i, side, json.dumps(pair[side]["metrics"])), flush=True)
        pairs.append(pair)
    info["load_avg_end"] = os.getloadavg()
    info["calibration_end"] = calibrate(tables)

    def values(side, name):
        return [p[side]["metrics"][name]["value"] if p[side]["correct"] else None
                for p in pairs]

    failed = {side: sum(p[side]["failed"] for p in pairs) for side in ("a", "b")}
    summary = {m["name"]: verdict(m, values("a", m["name"]), values("b", m["name"]),
                                  failed["a"], failed["b"])
               for m in spec["end_to_end"]}
    json.dump({**info, "failed_ops": failed, "summary": summary, "pairs": pairs},
              artifact, indent=1)
    artifact.close()
    for name, s in summary.items():
        if "a_median" not in s:
            print("%-18s %s" % (name, s["verdict"]))
            continue
        print("%-18s A %.4g [%.4g, %.4g]  B %.4g [%.4g, %.4g]  wins %d/%d  %s" % (
            name, s["a_median"], *s["a_quartiles"], s["b_median"], *s["b_quartiles"],
            s["b_wins"], len(pairs), s["verdict"]))
    print("failed operations: A %d, B %d" % (failed["a"], failed["b"]))
    print("artifact:", path)


if __name__ == "__main__":
    main()
