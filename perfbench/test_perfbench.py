"""Tests of the benchmark's own generator and output checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

They need the repository's ``Layout.scala`` (the generator reads the
record layout from it) and the python ``duckdb`` module; no JVM.
"""
import filecmp
import glob
import os
import tempfile
import unittest

import check
import gen_qcew

HERE = os.path.dirname(os.path.abspath(__file__))
LAYOUT = os.path.join(os.path.dirname(HERE), "src", "main", "scala", "graft",
                      "qcew", "Layout.scala")
N = 3000


def _files(root):
    return sorted(os.path.relpath(f, root) for f in
                  glob.glob(os.path.join(root, "**", "*"), recursive=True)
                  if os.path.isfile(f))


def agg_table(agg, perturb=None):
    """The aggregate a correct NaicsAgg.aggregate returns, as the harness
    writes it."""
    cols = ["year", "qtr", "naics4", "total_wages", "total_employment", "dummy"]
    cols += list(check.RATES)
    rows = []
    for (y, q, n4), v in sorted(agg.items()):
        if v["dummy"] <= gen_qcew.SUPPRESS_AT_MOST:
            continue
        tw = v["total_wages"]
        rows.append([y, q, n4, tw, v["total_employment"], v["dummy"]]
                    + [None if tw is None else tw * r for r in check.RATES.values()])
    if perturb:
        perturb(rows)
    return {"cols": cols, "rows": rows}


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        base = cls.tmp.name
        cls.a, cls.b, cls.c = (os.path.join(base, x) for x in "abc")
        cls.exp_a = gen_qcew.generate(5, cls.a, LAYOUT, N)
        cls.exp_b = gen_qcew.generate(5, cls.b, LAYOUT, N)
        cls.exp_c = gen_qcew.generate(6, cls.c, LAYOUT, N)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_is_byte_identical(self):
        files = _files(self.a)
        self.assertEqual(files, _files(self.b))
        _, mismatch, errors = filecmp.cmpfiles(self.a, self.b, files, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))
        self.assertEqual(self.exp_a["agg"], self.exp_b["agg"])
        self.assertEqual(self.exp_a["nulls"], self.exp_b["nulls"])

    def test_other_seed_differs(self):
        _, mismatch, _ = filecmp.cmpfiles(self.a, self.c, _files(self.a), shallow=False)
        self.assertTrue(mismatch)

    def test_layout_and_dirt(self):
        raw = b""
        for f in sorted(glob.glob(os.path.join(self.a, "raw", "qcew", "*", "*.txt"))):
            with open(f, "rb") as fh:
                raw += fh.read()
        self.assertEqual(len(raw), self.exp_a["raw_bytes"])
        lines = raw.split(b"\n")[:-1]
        self.assertEqual(len(lines), N)
        width = max(p + l - 1 for _, p, l in gen_qcew.read_layout(LAYOUT))
        self.assertTrue(all(len(x.rstrip(b"\r")) == width for x in lines))
        crlf_files = round(gen_qcew.N_PARTITIONS * gen_qcew.CRLF_FILE_RATE)
        self.assertGreater(sum(x.endswith(b"\r") for x in lines), 0)
        self.assertEqual(len({x[3:8] for x in lines if x.endswith(b"\r")}), crlf_files)
        self.assertEqual(sum(b"\xf1" in x for x in lines), round(N * gen_qcew.ENYE_RATE))
        nulls = sum(v for k, v in self.exp_a["nulls"].items())
        self.assertEqual(nulls, round(N * gen_qcew.BAD_NUMERIC_RATE))
        self.assertEqual(len({k[:2] for k in self.exp_a["agg"]}), gen_qcew.N_PARTITIONS)


class ChecksAreNonVacuousTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.exp = gen_qcew.generate(9, cls.tmp.name, LAYOUT, N)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_correct_aggregate_passes(self):
        self.assertEqual(check.check_agg(agg_table(self.exp["agg"]), self.exp["agg"]), [])

    def test_perturbed_aggregate_row_fails(self):
        def bump_wages(rows):
            rows[0][3] += 1

        def bump_average(rows):
            rows[1][4] *= 1 + 1e-6

        def drop_row(rows):
            rows.pop()

        for perturb in (bump_wages, bump_average, drop_row):
            with self.subTest(perturb.__name__):
                t = agg_table(self.exp["agg"], perturb)
                self.assertNotEqual(check.check_agg(t, self.exp["agg"]), [])

    def test_missing_injected_null_fails(self):
        nulls = self.exp["nulls"]
        cols = ["rows"] + list(nulls)
        good = {"cols": cols, "rows": [[self.exp["records"]] + list(nulls.values())]}
        self.assertEqual(check.check_nulls(good, nulls, self.exp["records"]), [])
        field = max(nulls, key=nulls.get)
        bad = dict(nulls, **{field: nulls[field] - 1})
        table = {"cols": cols, "rows": [[self.exp["records"]] + list(bad.values())]}
        self.assertNotEqual(check.check_nulls(table, nulls, self.exp["records"]), [])

    def test_wrong_registry_result_fails(self):
        import duckdb
        con = duckdb.connect()
        oracle = ("SELECT k, sum(v) AS s, avg(v) AS a FROM (VALUES (1, 2), (1, 3), "
                  "(2, 5)) t(k, v) GROUP BY k ORDER BY k")
        right = os.path.join(self.tmp.name, "right.parquet")
        wrong = os.path.join(self.tmp.name, "wrong.parquet")
        con.execute(f"COPY ({oracle}) TO '{right}' (FORMAT parquet)")
        con.execute(f"COPY (SELECT k, s + (k = 2)::int AS s, a FROM ({oracle})) "
                    f"TO '{wrong}' (FORMAT parquet)")
        want = check.load_sorted(con, oracle)
        got = check.load_sorted(con, f"SELECT * FROM read_parquet('{right}')")
        self.assertEqual(check.compare_result(got, want), [])
        got = check.load_sorted(con, f"SELECT * FROM read_parquet('{wrong}')")
        self.assertNotEqual(check.compare_result(got, want), [])

    def test_wages_reference_drops_invalid_and_blank(self):
        wages = self.exp["wages"]
        code = sorted(set(wages["desc"]) - set(wages["invalid"]))[0]
        label, series, picklist = check.expected_wages(wages, "quarterly", code)
        self.assertIn(label, picklist)
        self.assertFalse(any(p and p.startswith(f"(N{c})") for p in picklist
                             for c in wages["invalid"]))
        table = {"series": {"cols": ["time_period", "nominas"],
                            "rows": [list(r) for r in series]},
                 "picklist": {"cols": ["naics_desc"], "rows": [[p] for p in picklist]}}
        self.assertEqual(check.check_wages(table, wages, "quarterly", code), [])
        table["series"]["rows"][0][1] += 0.5
        self.assertNotEqual(check.check_wages(table, wages, "quarterly", code), [])


if __name__ == "__main__":
    unittest.main()
