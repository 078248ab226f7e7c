#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its metrics.

    python3 bench/run.py --workload {etl_days,corpus_ops,warehouse_sql}
                         --seed N --seconds S --trace {0,1}

Run from the repository root. The first run builds the harness and graft
from source with sbt (bench/build.sbt) and generates the inputs; later
runs reuse both from .bench_build/. The harness (bench/src) writes raw
samples; this script checks the outputs, prints every metric by name and
unit, and prints as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1). The exit code is 0 only when every
operation succeeded and every output check matched.

--inject corrupt-day | alter:QUERY are negative controls for the
benchmark's own tests: the first corrupts one file of the first timed
day, the second makes the harness alter one query's result.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, os.path.join(BENCH, "gen"))

WORKLOADS = ("etl_days", "corpus_ops", "warehouse_sql")
RUN_LIMIT_S = 170          # a run must end within 180 s
BUILD_LIMIT_S = 800        # the first run in a checkout may take 900 s
HEAP = "3g"
# The timed phase is as many whole passes of a nominal length as fit in
# --seconds (a pass is one CLI day for etl_days, the whole query list
# otherwise), so that every run of a given length measures the same work:
# stopping at the first pass boundary after --seconds made the pass count,
# and with it the JIT warm-up share, differ between runs. At the
# benchmark's 20 s that is 10 timed days (2-2.5 s each on a 4-vCPU VM) and
# one corpus_ops pass (8-10 s; a second would not fit the benchmark's time
# budget).
NOMINAL_PASS_S = {"etl_days": 2.0, "corpus_ops": 16.0, "warehouse_sql": 8.0}
# untimed warm-up days of etl_days (graftbench.Harness.WarmupDays)
WARMUP_DAYS = 6
# Derby tables the CLI loads into (graft.EtlConfig defaults)
DATA_TABLE, LOG_TABLE = "table_name", "data_processing_log"

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- stats

def percentile(values, p, min_beyond=10):
    """Nearest-rank p-th percentile of values.

    A tail percentile (p > 50) is only reported when at least `min_beyond`
    samples lie beyond it; otherwise None. The median is always reported.
    """
    xs = sorted(values)
    if not xs:
        return None
    if p == 50:
        return statistics.median(xs)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    if p > 50 and len(xs) - rank < min_beyond:
        return None
    return xs[rank - 1]


def tail_percentile(values):
    """(p, value) for the highest of p99/p95/p90/p75 with >= 10 samples
    beyond it, or None."""
    for p in (99, 95, 90, 75):
        v = percentile(values, p)
        if v is not None:
            return p, v
    return None


def union_ms(intervals):
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------- build

def _tree_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs
                           if f.endswith((".scala", ".sbt", ".properties")))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark distribution whose jars graft compiles against: the first
    directory on PATH holding spark-submit with a jars/ directory beside it."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(d)
        if os.path.exists(os.path.join(d, "spark-submit")) and \
                os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("[bench] no Spark distribution found: set SPARK_HOME")


def build():
    """Compile graft plus the harness; return the runtime classpath."""
    sources = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src", "main"),
               os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    stamp = _tree_digest(sources)
    out_dir = os.path.join(STATE, "build")
    cp_file = os.path.join(out_dir, "classpath-" + stamp[:16])
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("[bench] building harness and graft with sbt ...")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=BUILD_LIMIT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    cp = next((l for l in reversed(lines) if not l.startswith("[") and "classes" in l), None)
    if p.returncode != 0 or cp is None:
        log(p.stdout[-4000:])
        raise SystemExit("[bench] build failed")
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp


# ---------------------------------------------------------------- inputs

def _atomic_dir(final, make):
    """Create `final` by running make(tmp) and renaming, so a killed run
    never leaves a half-written input behind."""
    if os.path.isdir(final):
        return final
    tmp = final + ".tmp-%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    make(tmp)
    os.rename(tmp, final)
    return final


def tables_dir():
    import tables
    with open(os.path.join(BENCH, "gen", "tables.py"), "rb") as f:
        stamp = hashlib.sha256(f.read()).hexdigest()[:16]
    base = os.path.join(STATE, "tables")
    final = os.path.join(base, stamp)
    if not os.path.isdir(final) and os.path.isdir(base):
        shutil.rmtree(base)
    return _atomic_dir(final, tables.main)


def drop_dir(seed, corrupt=False):
    """(drop dir, manifest) for a seed; only the latest seed is kept."""
    import drop
    base = os.path.join(STATE, "drop-corrupt" if corrupt else "drop")
    final = os.path.join(base, str(seed))
    if os.path.isdir(base):
        for d in os.listdir(base):
            if d != str(seed) or corrupt:
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)

    def make(tmp):
        manifest = drop.generate(os.path.join(tmp, "drop"), seed)
        if corrupt:
            corrupt_day(os.path.join(tmp, "drop"), manifest)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f, sort_keys=True)

    _atomic_dir(final, make)
    with open(os.path.join(final, "manifest.json")) as f:
        return os.path.join(final, "drop"), json.load(f)


def corrupt_day(drop, manifest):
    """Append malformed rows to a plain-CSV object of the first timed day
    (the drop's first WARMUP_DAYS days are the harness's untimed warm-up)."""
    day = sorted(manifest["days"])[WARMUP_DAYS]
    name = next(n for n in manifest["days"][day]["files"] if n.endswith(".csv"))
    with open(os.path.join(drop, name), "a") as f:
        for i in range(25):
            f.write("corrupt-%d,###\n" % i)


def steal_s():
    """CPU time the hypervisor has taken from this VM since boot, in
    seconds (0 on a host that does not report it). Information only: runs
    that lost more of it read slower."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def load_refs():
    with open(os.path.join(BENCH, "refs", "queries.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- harness

def timed_passes(workload, seconds):
    return max(1, int(seconds // NOMINAL_PASS_S[workload]))


def run_harness(cp, args, work, data, extra, deadline):
    cpus = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # no hsperfdata under /tmp: the run writes only inside the checkout
    cmd = [java, "-Xmx" + HEAP, "-XX:-UsePerfData", "-Dderby.system.home=" + work,
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-Dspark.ui.enabled=false"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--passes", str(timed_passes(args.workload, args.seconds)), "--trace", str(args.trace),
            "--work", work, "--data", data, "--cpus", str(cpus)] + extra
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    with open(os.path.join(work, "harness.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(work, "harness.log")) as f:
            log(f.read()[-4000:])
        raise SystemExit("[bench] harness failed (rc=%s)" % rc)
    with open(result) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def check_days(res, manifest):
    """Per-day failure reasons: threw / FAILED, warehouse count, audit row."""
    rows = res["checks"]["warehouse_rows"]
    audit = res["checks"]["audit"]
    bad = {}
    for op in res["ops"] + [o for o in (res.get("trace") or {}).get("ops", [])]:
        day, want = op["name"], manifest["days"][op["name"]]["unique_rows"]
        a = audit.get(day, {})
        if not op["ok"]:
            bad[day] = "failed: %s %s" % (op["error"], " | ".join(op["lines"]))
        elif rows.get(day) != want:
            bad[day] = "warehouse has %s rows, expected %d" % (rows.get(day), want)
        elif a.get("total_row_count") != want or a.get("column_count") != manifest["columns"]:
            bad[day] = "audit row %s, expected total_row_count=%d column_count=%d" % (
                a, want, manifest["columns"])
    return bad


def check_queries(res, refs):
    """Per-query failure reasons against the recorded references: row
    count always, content hash where the reference matched the oracle."""
    got = res["checks"]["fingerprints"]
    bad = {}
    for q, ref in refs.items():
        g = got.get(q, {})
        if "error" in g:
            bad[q] = "check threw: " + g["error"]
        elif g.get("rows") != ref["rows"]:
            bad[q] = "rows %s, expected %d" % (g.get("rows"), ref["rows"])
        elif ref["oracle"] and g.get("hash") != ref["hash"]:
            bad[q] = "content hash %s, expected %s" % (g.get("hash"), ref["hash"])
    return bad


# ---------------------------------------------------------------- metrics

def op_s(ops):
    """Median over passes of the pass's mean operation time: the median
    day on etl_days (a pass is one day), so that a day slowed by another
    tenant of the machine does not move the run's figure."""
    passes = {}
    for o in ops:
        passes.setdefault(o["pass"], []).append(o["s"])
    return statistics.median(sum(ts) / len(ts) for ts in passes.values())


def end_to_end(res, failed_names):
    ops = res["ops"]
    good = [o for o in ops if o["ok"] and o["name"] not in failed_names] or ops
    return {
        "setup_s": res["setup_s"],
        "op_s": op_s(good),
        "retained_heap_mb": res["retained_heap_mb"],
    }, [o["s"] for o in good]


def per_layer(res, workload, manifest):
    tops = res["trace"]["ops"]
    n = float(len(tops))
    jobs = [j for o in tops for j in o["spark"]["jobs"]]
    execs = [x for o in tops for x in o["spark"]["executions"]]

    def dur(j):
        return (j["end_ms"] - j["start_ms"]) / 1000.0

    def job_s(pred):
        return sum(dur(j) for j in jobs if pred(j)) / n

    def total(key):
        return sum(j[key] for j in jobs) / n

    etl = workload == "etl_days"
    days = [o["name"] for o in tops] if etl else []
    rows = res["checks"].get("warehouse_rows", {})
    raw = sum(manifest["days"][d]["raw_rows"] for d in days) if etl else 0
    landed = sum(rows.get(d, 0) for d in days)
    jdbc_s = job_s(lambda j: j["jdbc_table"] == DATA_TABLE)
    audit = res["checks"].get("audit", {})
    files_used = sum(audit.get(d, {}).get("files_processed", 0) for d in days)
    m = {
        "pipeline.jobs_per_op": len(jobs) / n,
        "pipeline.driver_s_per_op": sum(
            o["s"] - union_ms([(j["start_ms"], j["end_ms"]) for j in o["spark"]["jobs"]]) / 1000.0
            for o in tops) / n,
        "pipeline.count_s_per_op": job_s(lambda j: j["file"] == "EtlPipeline"),
        "pipeline.gc_ms_per_op": sum(o["gc_ms"] for o in tops) / n,
        "sources.catalog_s_per_op": job_s(lambda j: j["file"] in ("FileCatalog", "DateExtract")),
        "sources.select_ratio": files_used / (manifest["objects"] * n) if etl else 0.0,
        "sources.infer_s_per_op": job_s(lambda j: j["file"] == "Readers"),
        "sources.read_amplification": sum(j["input_records"] for j in jobs) / raw if raw else 0.0,
        "sources.input_bytes_per_op": total("input_bytes"),
        "sources.input_records_per_op": total("input_records"),
        "operators.drop_empty_s_per_op": job_s(lambda j: j["file"] == "Cleaning"),
        "operators.dups_removed_per_op": (raw - landed) / n if etl else 0.0,
        "operators.build_s_per_op": sum(o["build_s"] for o in tops) / n,
        "operators.actions_per_op": len(execs) / n,
        "operators.stages_per_op": total("stages"),
        "operators.tasks_per_op": total("tasks"),
        "operators.exec_run_s_per_op": total("run_ms") / 1000.0,
        "operators.exec_cpu_s_per_op": total("cpu_ns") / 1e9,
        "operators.shuffle_write_bytes_per_op": total("shuffle_write_bytes"),
        "operators.shuffle_read_bytes_per_op": total("shuffle_read_bytes"),
        "operators.spill_bytes_per_op": total("spill_bytes"),
        "operators.peak_exec_mem_mb": max([j["peak_exec_mem"] for j in jobs] or [0]) / 2**20,
        "functions.codegen_compile_ms": res["codegen"]["setup_ms"],
        "functions.codegen_classes": float(res["codegen"]["timed_classes"]),
        "plans.analysis_ms_per_op": sum(x["analysis_ms"] for x in execs) / n,
        "plans.optimizer_ms_per_op": sum(x["optimizer_ms"] for x in execs) / n,
        "plans.planning_ms_per_op": sum(x["planning_ms"] for x in execs) / n,
        "plans.exchanges_per_op": sum(x["exchanges"] for x in execs) / n,
        "plans.scans_per_op": sum(x["scans"] for x in execs) / n,
        "sinks.jdbc_s_per_op": jdbc_s,
        "sinks.audit_s_per_op": job_s(lambda j: j["jdbc_table"] == LOG_TABLE),
        "sinks.rows_per_s": landed / (jdbc_s * n) if jdbc_s > 0 else 0.0,
    }
    # against the untraced operations that ran just before the traced
    # pass, as many as it has, so JIT warm-up does not read as overhead
    traced_times = [o["s"] for o in tops]
    untraced = [o["s"] for o in res["ops"]][-len(tops):]
    m["trace.overhead_op_s"] = (sum(traced_times) / len(traced_times)
                                - sum(untraced) / len(untraced))
    return m


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def report(args, res, manifest, failed, attempted, bad):
    """Print every metric by name and unit; return the metrics object of
    the final line."""
    spec = load_spec()
    e2e, times = end_to_end(res, set(bad))
    etl = args.workload == "etl_days"
    op = "day" if etl else "query"
    log_lines = ["workload=%s seed=%d cpus=%s load_avg=%.2f->%.2f steal=%.1f s" % (
        args.workload, args.seed, res["cpus"], res["load_avg_start"], res["load_avg_end"],
        res["steal_s"])]
    log_lines.append("setup_s = %.4f s" % e2e["setup_s"])
    log_lines.append("%s_s_p50 = %.4f s (n=%d)" % (op, percentile(times, 50), len(times)))
    tail = tail_percentile(times)
    log_lines.append("%s_s_p90 = %s" % (op, "%.4f s" % percentile(times, 90)
                                        if percentile(times, 90) is not None else
                                        "n/a (needs >= 10 samples beyond p90, n=%d)" % len(times)))
    if tail:
        log_lines.append("%s_s_p%d = %.4f s (n=%d)" % (op, tail[0], tail[1], len(times)))
    if etl:
        landed = sum(res["checks"]["warehouse_rows"].get(o["name"], 0) for o in res["ops"])
        log_lines.append("load_rows_per_s = %.1f rows/s" % (landed / sum(o["s"] for o in res["ops"])))
    else:
        passes = {}
        for o in res["ops"]:
            passes[o["pass"]] = passes.get(o["pass"], 0.0) + o["s"]
        log_lines.append("pass_s = %.4f s (median of %d passes)" % (
            statistics.median(passes.values()), len(passes)))
    log_lines.append("op_s = %.4f s (median of %d passes)" % (
        e2e["op_s"], len({o["pass"] for o in res["ops"]})))
    log_lines.append("retained_heap_mb = %.1f MB" % e2e["retained_heap_mb"])
    log_lines.append("fail_frac = %.4f ratio (%d/%d)" % (failed / attempted, failed, attempted))
    for name, why in sorted(bad.items()):
        log_lines.append("FAILED %s: %s" % (name, why))
    if args.trace:
        metrics = per_layer(res, args.workload, manifest)
        wanted = spec["per_layer"]
    else:
        metrics = e2e
        wanted = spec["end_to_end"]
    for m in wanted:
        log_lines.append("%s = %.6g %s" % (m["name"], metrics[m["name"]], m["unit"]))
    for l in log_lines:
        print(l)
    return {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", default="")
    args = ap.parse_args(argv)
    t0 = time.time()
    for need in ("src/main/scala/graft/Main.scala", "src/main/scala/graft/SparkEntry.scala",
                 "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            log("[bench] %s not found: run from a full checkout of the repository" % need)
            return 2
    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    manifest, refs, extra = None, None, []
    if args.workload == "etl_days":
        data, manifest = drop_dir(args.seed, corrupt=args.inject == "corrupt-day")
        extra = ["--start-date", manifest["start"], "--days", str(manifest["n_days"])]
    else:
        data = tables_dir()
        refs = load_refs()[args.workload]
        extra = ["--queries", ",".join(refs)]
        if args.inject.startswith("alter:"):
            extra += ["--alter", args.inject[len("alter:"):]]
    runs = os.path.join(STATE, "runs")
    work = os.path.join(runs, "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(runs, ignore_errors=True)
    os.makedirs(work)
    # write back the freshly generated drop (~80 MB a seed) and the deleted
    # previous run now, so that the kernel's delayed writeback (30 s after
    # the write) does not compete with the timed days for the disk
    os.sync()
    steal0 = steal_s()
    res = run_harness(cp, args, work, data, extra, deadline)
    res["steal_s"] = steal_s() - steal0
    # the raw samples of the latest run stay for inspection
    shutil.copy(os.path.join(work, "result.json"), os.path.join(runs, "last-result.json"))
    shutil.rmtree(work, ignore_errors=True)

    if manifest is not None:
        bad = check_days(res, manifest)
    else:
        bad = check_queries(res, refs)
    attempted = len(res["ops"])
    failed = sum(1 for o in res["ops"] if not o["ok"] or o["name"] in bad)
    metrics = report(args, res, manifest, failed, attempted, bad)
    log("[bench] run took %.1f s" % (time.time() - t0))
    correct = failed == 0 and not bad
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
