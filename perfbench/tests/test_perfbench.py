"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

The generator and statistics tests are pure Python. The last class builds
the harness (as run.py does) and drives the real pipelines on the
repository's fixture and on generated files; it takes about a minute.
"""
import os
import shutil
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

FIXTURE = os.path.join(run.ROOT, "src", "test", "resources", "covid_daily.csv")


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_bytes_and_counts(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            ea = gen.generate(a, 7, 3000)
            eb = gen.generate(b, 7, 3000)
            ec = gen.generate(c, 8, 3000)
            with open(a, "rb") as fa, open(b, "rb") as fb, open(c, "rb") as fc:
                da, db, dc = fa.read(), fb.read(), fc.read()
        self.assertEqual(da, db)
        self.assertEqual(ea, eb)
        self.assertNotEqual(da, dc)

    def test_every_fault_class_is_planted(self):
        cells = {x for row in gen.rows(3, 1000) for x in row}
        for planted in ("", "abc", "NaN", "Infinity"):
            self.assertIn(planted, cells)
        days = {r[1] for r in gen.rows(3, 1000)}
        self.assertTrue(any(len(d) < 10 and d.count("-") == 2 for d in days if d))
        self.assertTrue(any(d[:2].isdigit() and d[2] == "-" for d in days if d))
        self.assertTrue(any(d[5:7] == "13" for d in days))
        self.assertTrue(any(r[0].startswith(" ") for r in gen.rows(3, 1000)))
        self.assertEqual(len(gen.rows(3, 1000)), 1000)

    def test_expectations_on_the_repository_fixture(self):
        e = gen.expect(gen.read_csv(FIXTURE))
        self.assertEqual(e["rows"], 12)
        self.assertEqual(e["records"], 5)  # covidPipeline's record count
        self.assertEqual(e["violations"], {
            "required_entity": 1, "required_Day": 1,
            "required_total_confirmed_deaths": 1,
            "numeric_total_confirmed_deaths": 1, "date_Day": 3})
        # 40 + 21 + 12 + (-3) + 0 after int(float(x)) truncation
        self.assertEqual(e["deaths_sum"], 70)
        self.assertEqual(e["elt_final"], 8)


class StatsTest(unittest.TestCase):

    def test_tail_needs_eleven_samples(self):
        self.assertIsNone(run.tail([1.0] * 10))
        self.assertEqual(run.tail(list(range(11))), (0, 100.0 / 11, 11))

    def test_tail_leaves_ten_samples_beyond(self):
        v = [float(x) for x in range(100, 0, -1)]
        value, pct, n = run.tail(v)
        self.assertEqual((value, pct, n), (90.0, 90.0, 100))
        self.assertEqual(sum(x > value for x in v), 10)
        value, pct, n = run.tail([float(x) for x in range(20)])
        self.assertEqual((value, pct, n), (9.0, 50.0, 20))

    def test_self_times(self):
        dump = {"spans": [
            {"id": 0, "name": "op", "parent": -1, "op": 1, "start_s": 0.0, "end_s": 10.0},
            {"id": 1, "name": "a", "parent": 0, "op": 1, "start_s": 1.0, "end_s": 5.0},
            {"id": 2, "name": "b", "parent": 1, "op": 1, "start_s": 2.0, "end_s": 3.0}],
            "layers": [{"op": 1, "layer": "x", "s": 0.5}]}
        t = run.self_times(dump)
        self.assertEqual(t["span_self_s"], {"a": 3.0, "b": 1.0, "op": 6.0})
        self.assertEqual(t["layer_self_s"], {"x": 0.5})


class ProgramTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.cp = build.classpath(run.ROOT)
        cls.work = tempfile.mkdtemp(dir=os.path.join(run.ROOT, ".bench_build"))

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.work, ignore_errors=True)

    def harness(self, mode, inputs, ops):
        """Exactly `ops` ops: the first, ops - 1 warm-up ops, no window."""
        work = tempfile.mkdtemp(prefix=mode, dir=self.work)
        plan = run.write_plan(inputs, os.path.join(work, "plan.tsv"))
        with open(os.path.join(work, "jvm.log"), "w") as log:
            return run.jvm(self.cp, work, ["--mode", mode, "--work", work,
                                           "--plan", plan, "--warmup", str(ops - 1),
                                           "--seconds", "0"],
                           time.monotonic() + 600, log)

    def generated(self, name, seed, n):
        path = os.path.join(self.work, name)
        return path, gen.generate(path, seed, n)

    def test_call_site_attribution(self):
        r = build.subprocess.run([build.java(), "-cp", self.cp, "perfbench.SelfTest"],
                                 capture_output=True, text=True)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)

    def test_pipelines_agree_with_the_generator(self):
        # op 0 on the fixture, op 1 on a generated file: validation counts,
        # records, table contents, ELT finalRows and the audit trail
        res = self.harness("batch_etl", [
            (FIXTURE, gen.expect(gen.read_csv(FIXTURE))),
            self.generated("batch.csv", 11, 3000)], ops=2)
        self.assertEqual((res["attempted"], res["failed"]), (2, 0), res["errors"])

    def test_a_mismatch_counts_as_failed(self):
        wrong = gen.expect(gen.read_csv(FIXTURE))
        wrong["elt_final"] += 1
        res = self.harness("batch_etl", [(FIXTURE, wrong)], ops=1)
        self.assertEqual((res["attempted"], res["failed"]), (1, 1))
        self.assertIn("elt finalRows: got 8, expected 9", " ".join(res["errors"]))

    def test_stream_rows_agree_with_the_generator(self):
        res = self.harness("arrivals", [
            self.generated(f"arrival_{k}.csv", 20 + k, 500) for k in range(4)], ops=3)
        self.assertEqual((res["attempted"], res["failed"]), (3, 0), res["errors"])


if __name__ == "__main__":
    unittest.main()
