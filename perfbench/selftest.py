#!/usr/bin/env python3
"""Self-tests of the benchmark's own pieces (no Spark, a few seconds):

  python3 perfbench/selftest.py
"""
import filecmp
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import compare  # noqa: E402
import gen_contacts  # noqa: E402
import gen_registry  # noqa: E402
import trace  # noqa: E402

sys.path.insert(0, os.path.join(HERE, "..", "tools"))
import check_oracle  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")
SCRATCH = os.path.join(HERE, "..", ".bench_work")


def tmpdir():
    os.makedirs(SCRATCH, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=SCRATCH)


def _files(d):
    return sorted(os.path.relpath(os.path.join(dp, f), d)
                  for dp, _, fs in os.walk(d) for f in fs)


class GeneratorTest(unittest.TestCase):

    def same(self, a, b):
        self.assertEqual(_files(a), _files(b))
        _, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
        return not mismatch and not errors

    def test_contacts_seeded(self):
        with tmpdir() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            pa = gen_contacts.generate(a, 7, 600, 150)
            gen_contacts.generate(b, 7, 600, 150)
            gen_contacts.generate(c, 8, 600, 150)
            self.assertTrue(self.same(a, b))
            self.assertFalse(self.same(a, c))
            self.assertEqual(pa["source_files"], 5)
            with open(os.path.join(a, "master.tsv")) as f:
                self.assertEqual(len(f.readline().split("\t")), 88)

    def test_contacts_properties(self):
        with tmpdir() as t:
            p = gen_contacts.generate(t, 3, 5000, 1250)
            self.assertAlmostEqual(p["source_overlap"], 0.70, delta=0.03)
            self.assertAlmostEqual(p["missing_email"], 0.30, delta=0.03)
            self.assertAlmostEqual(p["missing_mobile"], 0.30, delta=0.03)
            self.assertAlmostEqual(p["planted_duplicates"], 0.03, delta=0.01)
            self.assertLess(p["top_name_share"], 0.002)

    def test_registry_seeded(self):
        with tmpdir() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            for d, s in ((a, 5), (b, 5), (c, 6)):
                gen_registry.generate(d, s, 0.001)
            self.assertEqual(sorted(f[:-len(".parquet")] for f in _files(a)
                                    if f.endswith(".parquet")),
                             sorted(check_oracle.TABLES))
            self.assertTrue(self.same(a, b))
            self.assertFalse(self.same(a, c))


class CompareTest(unittest.TestCase):

    def test_verdicts(self):
        base = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.0, 10.1]
        v = compare.verdict
        self.assertEqual(v(base, [x * 0.8 for x in base], 10, 10, True, 0.1), "improved")
        self.assertEqual(v(base, [x * 1.3 for x in base], 0, 10, True, 0.1), "worse")
        self.assertEqual(v(base, base, 0, 10, True, 0.1), "unchanged")
        noisy = [5.0, 15.0, 7.0, 13.0, 10.0, 6.0, 14.0, 8.0, 12.0, 10.0]
        self.assertEqual(v(noisy, [x * 0.95 for x in noisy], 10, 10, True, 0.1),
                         "unresolved")
        # higher-is-better metrics flip the direction
        self.assertEqual(v(base, [x * 1.3 for x in base], 10, 10, False, 0.1), "improved")

    def test_alignment(self):
        def rec(seed, value, wl="contacts_rest"):
            return {"workload": wl, "seed": seed, "trace": 0,
                    "metrics": {"unit_p50_s": {"value": value, "unit": "s"}}}
        base = [rec(s, 10.0 + s * 0.01) for s in range(10)]
        new = [rec(s, 7.0 + s * 0.01) for s in range(10)]
        spec = {"unit_p50_s": {"better": "lower", "bound": 0.1}}
        with open(os.devnull, "w") as null:
            out = compare.compare(base, new, spec, out=null)
        self.assertEqual(out[("contacts_rest", "unit_p50_s")], "improved")


class ContractTest(unittest.TestCase):

    def setUp(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_names(self):
        names = ([w["name"] for w in self.bench["workloads"]]
                 + [m["name"] for m in self.bench["end_to_end"]]
                 + [m["name"] for m in self.bench["per_layer"]]
                 + [n for n, _ in trace.per_layer_names()])
        for n in names:
            self.assertRegex(n, NAME)
            self.assertLessEqual(len(n), 64)

    def test_per_layer_matches_emitter(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["per_layer"]],
                         trace.per_layer_names())

    def test_workloads_say_why(self):
        for w in self.bench["workloads"]:
            self.assertTrue(w["why"].strip())
            self.assertNotIn("\n", w["why"])
            self.assertLessEqual(len(w["why"]), 200)

    def test_setup_bound_is_largest(self):
        bounds = {m["name"]: m["bound"] for m in self.bench["end_to_end"]}
        self.assertEqual(max(bounds.values()), bounds["setup_s"])


class TraceTest(unittest.TestCase):

    def test_union_and_layers(self):
        self.assertEqual(trace.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(trace.layer_of(
            "graft.pipeline.Fill$.fillFromSources(Fill.scala:190)"), "Fill")
        events = [
            {"e": "sql", "exec": 1, "t": 0, "site": "graft.pipeline.Tsv$.write(Tsv.scala:9)"},
            {"e": "js", "job": 1, "t": 100, "exec": 1, "site": ""},
            {"e": "je", "job": 1, "t": 300, "ok": True},
            {"e": "js", "job": 2, "t": 200, "exec": -1,
             "site": "graft.pipeline.Fill$.x(Fill.scala:1)"},
            {"e": "je", "job": 2, "t": 400, "ok": True},
            {"e": "sc", "stage": 1, "tasks": 1, "t0": 100, "t1": 300, "run": 800,
             "cpu": 10 ** 9, "gc": 0, "shw": 0, "fw": 0, "spill": 0, "out": 0}]
        m = trace.engine(events, [(0, 1000)], 4)
        self.assertEqual(m["spark.jobs"], 2)
        self.assertEqual(m["layer.Tsv.jobs"], 1)
        self.assertAlmostEqual(m["layer.Fill.s"], 0.2)
        self.assertAlmostEqual(m["driver.gap_s"], 0.7)
        self.assertAlmostEqual(m["executor.busy_frac"], 0.2)
        self.assertEqual(m["spark.single_task_stages"], 1)


class ChecksTest(unittest.TestCase):

    def test_contacts_checks(self):
        master = (["email", "fullname", "mobile", "firstname", "lastname"],
                  [["a@x.io", "Ann Lee", "", "Ann", "Lee"]])
        tsv = "EMAIL\tFULLNAME\tMOBILE\na@x.io\tAnn Lee\t0400000000\n"
        log = json.dumps([{"row": 1, "field": "MOBILE", "old_value": "",
                           "new_value": "0400000000", "source_file": "1.tsv",
                           "matched_on": "name+email"}])
        texts = {checks.CLEANED: tsv, checks.CHANGELOG: log, checks.VALIDATION: "[]"}
        fails, counts = checks.check_contacts(texts, master, 99)
        self.assertEqual(fails, [])
        self.assertEqual(counts["rows.changelog"], 1)
        bad = dict(texts, **{checks.CHANGELOG: log.replace("MOBILE", "EMAIL")})
        self.assertTrue(checks.check_contacts(bad, master, 99)[0])
        dup = dict(texts, **{checks.CLEANED: tsv + "A@x.io \tAnn\t1\n"})
        self.assertTrue(checks.check_contacts(dup, master, 99)[0])

    def test_registry_check(self):
        import duckdb
        with tmpdir() as t:
            data, dump = os.path.join(t, "data"), os.path.join(t, "dump")
            gen_registry.generate(data, 5, 0.001)
            os.makedirs(os.path.join(dump, "q_region"))
            duckdb.connect().execute(
                "COPY (SELECT * FROM read_parquet('%s/region.parquet')) TO "
                "'%s/q_region/part-0.parquet' (FORMAT PARQUET)" % (data, dump))
            for sql, fails in (("SELECT * FROM region", 0),
                               ("SELECT * FROM region LIMIT 2", 1)):
                with open(os.path.join(dump, "oracle_sql.json"), "w") as f:
                    json.dump({"q_region": sql}, f)
                self.assertEqual(len(checks.check_registry(data, dump)), fails)


if __name__ == "__main__":
    unittest.main()
