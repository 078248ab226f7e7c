"""The benchmark's own tests.

    python3 -m unittest discover -s bench/tests -v

Run from the repository root. The negative controls and the Scala
fingerprint spec build and run the harness, so the whole suite takes a
few minutes.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.join(BENCH, "gen"))

import ab  # noqa: E402
import drop  # noqa: E402
import run  # noqa: E402
import tables  # noqa: E402


class PercentileTest(unittest.TestCase):

    def test_median_always_reported(self):
        self.assertEqual(run.percentile([3.0], 50), 3.0)
        self.assertEqual(run.percentile(list(range(1, 21)), 50), 10.5)
        self.assertIsNone(run.percentile([], 50))

    def test_tail_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(run.percentile(xs, 90), 90)     # 10 samples beyond
        self.assertIsNone(run.percentile(xs[:99], 90))   # only 9 beyond
        self.assertIsNone(run.percentile(xs, 95))
        self.assertEqual(run.percentile(list(range(1, 41)), 75), 30)

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 20
        self.assertEqual(run.percentile(xs, 90), run.percentile(sorted(xs), 90))

    def test_highest_qualifying_tail(self):
        self.assertEqual(run.tail_percentile(list(range(1, 101))), (90, 90))
        self.assertEqual(run.tail_percentile(list(range(1, 41))), (75, 30))
        self.assertIsNone(run.tail_percentile(list(range(1, 30))))

    def test_op_s_is_median_over_passes_of_pass_mean(self):
        ops = [{"pass": 0, "s": 1.0}, {"pass": 0, "s": 3.0},
               {"pass": 1, "s": 5.0}, {"pass": 2, "s": 2.5}]
        self.assertEqual(run.op_s(ops), 2.5)  # pass means 2.0, 5.0, 2.5
        days = [{"pass": i, "s": 2.0} for i in range(11)] + [{"pass": 11, "s": 9.0}]
        self.assertEqual(run.op_s(days), 2.0)  # one slow day does not move it

    def test_union_of_intervals(self):
        self.assertEqual(run.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(run.union_ms([]), 0)


class ABVerdictTest(unittest.TestCase):
    SPEC = {"better": "lower", "bound": 0.25}
    A = [1.0, 1.1, 0.9, 1.0, 1.05, 0.95, 1.0, 1.02, 0.98, 1.0]

    def test_verdicts(self):
        faster = [x * 0.8 for x in self.A]
        same = list(reversed(self.A))
        self.assertEqual(ab.verdict(self.SPEC, self.A, faster)["verdict"], "improved")
        self.assertEqual(ab.verdict(self.SPEC, self.A, same)["verdict"],
                         "no worse within the bound")
        self.assertEqual(ab.verdict(self.SPEC, self.A, [1.5] * 10)["verdict"], "worse")
        noisy = [1.0, 2.0, 0.5, 1.5, 0.7, 1.9, 0.6, 1.2, 0.8, 1.7]
        self.assertEqual(ab.verdict(self.SPEC, noisy, noisy[1:] + noisy[:1])["verdict"],
                         "unresolved")
        self.assertEqual(ab.verdict(self.SPEC, self.A, faster)["win_fraction"], 1.0)

    def test_failed_runs_count_against_b(self):
        faster = [x * 0.8 for x in self.A]
        # two B runs not correct: losses, so B wins only 8/10 of all pairs
        two_lost = [None, None] + faster[2:]
        v = ab.verdict(self.SPEC, self.A, two_lost)
        self.assertEqual(v["b_wins"], 8)
        self.assertNotEqual(v["verdict"], "improved")
        # more failed operations on B: neither improved nor no worse
        self.assertEqual(ab.verdict(self.SPEC, self.A, faster, 0, 1)["verdict"],
                         "more failures")
        self.assertEqual(ab.verdict(self.SPEC, self.A, faster, 1, 1)["verdict"], "improved")


class GeneratorTest(unittest.TestCase):

    def test_drop_is_deterministic_per_seed(self):
        with tempfile.TemporaryDirectory() as t:
            a = drop.generate(os.path.join(t, "a"), seed=5, n_days=4)
            b = drop.generate(os.path.join(t, "b"), seed=5, n_days=4)
            c = drop.generate(os.path.join(t, "c"), seed=6, n_days=4)
            self.assertEqual(a, b)
            cmp = filecmp.dircmp(os.path.join(t, "a"), os.path.join(t, "b"))
            self.assertFalse(cmp.diff_files or cmp.left_only or cmp.right_only)
            self.assertNotEqual(a["days"], c["days"])

    def test_drop_counts_match_duckdb_recount(self):
        import duckdb
        with tempfile.TemporaryDirectory() as t:
            d = os.path.join(t, "drop")
            m = drop.generate(d, seed=9, n_days=3)
            con = duckdb.connect()
            listed = [f for _, _, fs in os.walk(d) for f in fs]
            self.assertEqual(len(listed), m["objects"])
            self.assertLess(len(os.listdir(d)), m["objects"])  # some sit under prefixes
            self.assertGreaterEqual(len(m["noise"]) / m["objects"], 0.05)
            for day, want in m["days"].items():
                self.assertEqual(len(want["files"]), drop.FILES_PER_DAY)
                self.assertTrue(any(f.endswith(".gz") for f in want["files"]))
                raw = unique = 0
                for f in want["files"]:
                    src = ("read_csv('%s', header=true, all_varchar=true, quote='\"', "
                           "escape='\"')" % os.path.join(d, f))
                    raw += con.sql("SELECT COUNT(*) FROM %s" % src).fetchone()[0]
                    unique += con.sql("SELECT COUNT(*) FROM (SELECT DISTINCT * FROM %s)"
                                      % src).fetchone()[0]
                    cols = [c[0] for c in con.sql("DESCRIBE SELECT * FROM %s" % src).fetchall()]
                    empty = sum(con.sql('SELECT COUNT("%s") FROM %s' % (c, src)).fetchone()[0] == 0
                                for c in cols)
                    self.assertEqual(len(cols) - empty + drop.ADDED_COLUMNS, m["columns"], f)
                self.assertEqual((raw, unique), (want["raw_rows"], want["unique_rows"]), day)
                self.assertLess(unique, raw)

    def test_tables_are_deterministic(self):
        a = {n: t for n, t in tables.tables(sf=0.002)}
        b = {n: t for n, t in tables.tables(sf=0.002)}
        self.assertEqual(sorted(a), sorted(b))
        for n in a:
            self.assertTrue(a[n].equals(b[n]), n)


def bench(*args):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py")] + list(args),
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=900)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    return p.returncode, json.loads(last)


class NegativeControlTest(unittest.TestCase):

    def test_corrupted_day_file_fails_the_run(self):
        rc, out = bench("--workload", "etl_days", "--seed", "11", "--seconds", "1",
                        "--inject", "corrupt-day")
        self.assertNotEqual(rc, 0)
        self.assertFalse(out["correct"])
        self.assertGreater(out["failed"], 0)

    def test_altered_query_result_fails_the_run(self):
        rc, out = bench("--workload", "warehouse_sql", "--seed", "11", "--seconds", "1",
                        "--inject", "alter:q_topk")
        self.assertNotEqual(rc, 0)
        self.assertFalse(out["correct"])
        self.assertGreater(out["failed"], 0)

    def test_benchmark_files_alone_exit_nonzero_without_result(self):
        """A directory holding only BENCHMARK.json and bench/ has no graft
        sources to build: the run must fail fast and print no result."""
        with tempfile.TemporaryDirectory() as t:
            shutil.copytree(BENCH, os.path.join(t, "bench"), ignore=shutil.ignore_patterns(
                "target", "__pycache__", ".bench_build"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), t)
            p = subprocess.run([sys.executable, "bench/run.py", "--workload", "etl_days",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=t, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


class FingerprintSpecTest(unittest.TestCase):
    """The order-independence spec of the result fingerprint lives with
    the harness's Scala sources (bench/src/test)."""

    def test_scala_fingerprint_spec(self):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "SPARK_HOME" not in env:
            env["SPARK_HOME"] = run.spark_home()
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"], cwd=BENCH,
                           env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stdout[-3000:])
        self.assertIn("All tests passed", p.stdout)


if __name__ == "__main__":
    unittest.main()
