"""Self-tests of the benchmark's own code (no JVM, no Spark):

    python3 -m unittest discover -s flightbench -p 'test_*.py'
"""
import math
import os
import shutil
import statistics
import tempfile
import unittest

import numpy as np

import checks
import gen_caa
import stats


class StatsTest(unittest.TestCase):
    def test_quantile_interpolates_between_ranks(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(stats.quantile(xs, 0.0), 1.0)
        self.assertEqual(stats.quantile(xs, 0.5), 3.0)
        self.assertEqual(stats.quantile(xs, 1.0), 5.0)
        self.assertAlmostEqual(stats.quantile(xs, 0.9), 4.6)
        self.assertAlmostEqual(stats.quantile([1.0, 2.0], 0.25), 1.25)
        self.assertEqual(stats.quantile([7.0], 0.9), 7.0)
        with self.assertRaises(ValueError):
            stats.quantile([], 0.5)

    def test_quantile_matches_inclusive_quantiles(self):
        xs = [0.3, 0.1, 0.9, 0.5, 0.2, 0.8, 0.4]
        want = statistics.quantiles(xs, n=10, method="inclusive")
        for i, w in enumerate(want, start=1):
            self.assertAlmostEqual(stats.quantile(xs, i / 10), w)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(stats.geomean([0.05, 1.6]), math.sqrt(0.08))
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])

    def test_geomean_of_medians_weighs_names_equally(self):
        samples = {"fast": [0.05, 0.04, 0.06], "slow": [1.6, 1.5, 9.0]}
        self.assertAlmostEqual(stats.geomean_of_medians(samples), math.sqrt(0.05 * 1.6))

    def test_digest_is_order_and_repr_sensitive(self):
        a = [(1, "x", 0.1), (2, None, float("nan"))]
        self.assertEqual(stats.rows_digest(a), stats.rows_digest(list(a)))
        self.assertNotEqual(stats.rows_digest(a), stats.rows_digest(a[::-1]))
        self.assertNotEqual(stats.rows_digest([(1.0,)]), stats.rows_digest([(1,)]))
        self.assertEqual(stats.cell_str(None), "NULL")
        self.assertEqual(stats.cell_str(float("nan")), "NaN")
        self.assertEqual(stats.cell_str(0.1), "0.1")


class CaaGeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def _gen(self, name, seed):
        out = os.path.join(self.tmp, name)
        res = gen_caa.generate(out, seed, n_files=3, lines_per_file=4000)
        files = {}
        for f in sorted(os.listdir(out)):
            with open(os.path.join(out, f), "rb") as fh:
                files[f] = fh.read()
        return res, files

    def test_same_seed_same_bytes_and_results(self):
        r1, f1 = self._gen("a", 11)
        r2, f2 = self._gen("b", 11)
        self.assertEqual(f1, f2)
        self.assertEqual(r1["lines"], r2["lines"])
        self.assertEqual(sorted(r1["late"].items()), sorted(r2["late"].items()))
        self.assertEqual(repr(sorted(r1["delay"].items())),
                         repr(sorted(r2["delay"].items())))
        r3, f3 = self._gen("c", 12)
        self.assertNotEqual(f1, f3)

    def test_files_carry_the_dialect_edge_cases(self):
        res, files = self._gen("a", 5)
        self.assertEqual(len(files), 3)
        text = b"".join(files.values()).decode()
        lines = [l for l in text.split("\n")]
        for body in files.values():
            self.assertTrue(body.startswith(gen_caa.HEADER.encode() + b"\n"))
            self.assertTrue(body.endswith(b"\n\n"))
        rows = [l.split(",") for l in lines if l and not l.startswith("run_date")]
        self.assertTrue(any(',"WIDEROE, FLYVESELSKAP",' in l for l in lines))
        self.assertTrue(any(r[7] == "C" for r in rows if len(r) == 21))
        self.assertTrue(any(r[8].strip() == "0" for r in rows if len(r) == 21))
        self.assertTrue(any(r[8] != r[8].strip() for r in rows if len(r) == 21))
        # negative half-way products: n * avg = -(k + 0.5)
        halves = [r for r in rows if len(r) == 21 and r[8].strip() != "0"
                  and float(r[16]) < 0
                  and (int(r[8]) * float(r[16])) % 1 == 0.5]
        self.assertTrue(halves)
        self.assertTrue(res["late"], "Late must keep some (airline, year) rows")
        self.assertTrue(math.isnan(res["delay"][gen_caa.DEPARTURES_ONLY][0]))

    def test_expected_results_parse_the_written_text(self):
        for units, scale, text in [(1250, 100, "12.5"), (-625, 10000, "-0.0625"),
                                   (700, 100, "7"), (-5, 100, "-0.05")]:
            self.assertEqual(gen_caa.dec_text(units, scale), text)
            self.assertEqual(float(text), units / scale)


class CaaGoldenTest(unittest.TestCase):
    """The accumulator logic against the FIXTURES.md section A goldens
    (the reference's smallinput.csv accumulators and outputs), over
    hand-made rows that reach the same accumulators, plus a charter row,
    a zero-flight row and a negative half-way delay the filters and
    rounding must handle."""

    def _acc(self, rows):
        acc_d, acc_l = {}, {}
        for year in sorted({r[0] for r in rows}):
            rs = [r for r in rows if r[0] == year]
            gen_caa.accumulate(
                acc_d, acc_l, year,
                np.array([r[1] for r in rs], dtype=object),
                np.array([r[2] for r in rs], dtype=object),
                np.array([0 if r[3] == "A" else 1 for r in rs]),
                np.array([r[4] == "C" for r in rs]),
                np.array([r[5] for r in rs]),
                np.array([r[6] for r in rs], dtype=np.float64),
                np.array([r[7] for r in rs], dtype=np.float64))
        return acc_d, acc_l

    ROWS = [
        # year, airport, airline, A/D, S/C, flights, avg delay, late %s
        ("2011", "BIRMINGHAM", "BRUSSELS AIRLINES", "A", "S", 100, 7.88, (0, 0, 0, 0)),
        ("2011", "BIRMINGHAM", "BRUSSELS AIRLINES", "A", "S", 85, 7.89, (0, 0, 0, 0)),
        ("2011", "BIRMINGHAM", "BRUSSELS AIRLINES", "A", "C", 99, 50.0, (0, 0, 0, 0)),
        ("2011", "BIRMINGHAM", "BRUSSELS AIRLINES", "D", "S", 108, 30.0, (40, 20, 2, 0)),
        ("2011", "BIRMINGHAM", "BRUSSELS AIRLINES", "D", "S", 0, 10.0, (90, 0, 0, 0)),
        ("2011", "BIRMINGHAM", "LUFTHANSA CITY LINE", "D", "S", 76, 30.93, (15.79, 0, 0, 0)),
        ("2011", "HEATHROW", "BRUSSELS AIRLINES", "A", "S", 165, 6.58, (0, 0, 0, 0)),
        ("2011", "HEATHROW", "BRUSSELS AIRLINES", "D", "S", 56, 33.0, (40, 8.2, 0, 0)),
        ("2015", "HEATHROW", "LUFTHANSA CITY LINE", "D", "S", 56, 34.11, (64.29, 0, 0, 0)),
    ]

    def test_accumulators_match_fixtures(self):
        acc_d, acc_l = self._acc(self.ROWS)
        self.assertEqual(acc_d["BIRMINGHAM"], [185, 1459, 184, 5591])
        self.assertEqual(acc_d["HEATHROW"], [165, 1086, 112, 3758])
        self.assertEqual(acc_l[("BRUSSELS AIRLINES", "2011")], [164, 94])
        self.assertEqual(acc_l[("LUFTHANSA CITY LINE", "2011")], [76, 12])
        self.assertEqual(acc_l[("LUFTHANSA CITY LINE", "2015")], [56, 36])

    def test_outputs_match_fixtures(self):
        acc_d, acc_l = self._acc(self.ROWS)
        delay = gen_caa.delay_results(acc_d)
        self.assertEqual(delay["BIRMINGHAM"], (7.886486486486486, 30.38586956521739))
        self.assertEqual(delay["HEATHROW"], (6.581818181818182, 33.55357142857143))
        late = gen_caa.late_results(acc_l)
        self.assertEqual(late, {"BRUSSELS AIRLINES,2011": 57.3170731707317,
                                "LUFTHANSA CITY LINE,2015": 64.28571428571429})

    def test_negative_half_rounds_toward_positive_infinity(self):
        acc_d, _ = self._acc([("2011", "X", "Y", "D", "S", 4, -0.625, (0, 0, 0, 0))])
        self.assertEqual(acc_d["X"], [0, 0, 4, -2])   # HALF_UP would give -3
        self.assertTrue(math.isnan(gen_caa.delay_results(acc_d)["X"][0]))

    def test_checks_accept_the_expected_and_reject_a_change(self):
        expected = {"BIRMINGHAM": (7.886486486486486, 30.38586956521739),
                    "LYDD": (math.nan, 1.5)}
        good = ["BIRMINGHAM\t7.886486486486486,30.38586956521739", "LYDD\tNaN,1.5"]
        self.assertEqual(checks.check_delay(good, expected), [])
        bad = ["BIRMINGHAM\t7.886486486486487,30.38586956521739", "LYDD\tNaN,1.5"]
        self.assertTrue(checks.check_delay(bad, expected))
        self.assertTrue(checks.check_delay(good[::-1], expected))
        late = {'"AIR ONE, S.P.A.",2011': 75.5}
        self.assertEqual(checks.check_late(['"AIR ONE, S.P.A.",2011\t75.5'], late), [])
        self.assertTrue(checks.check_late([], late))


class SnapshotTest(unittest.TestCase):
    def test_snapshot_matches_its_manifest(self):
        """The star-schema workload's Parquet is the fixed sf0.1 snapshot:
        every file listed in sf0.1/SHA256SUMS, byte for byte."""
        import hashlib
        snap = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.1")
        with open(os.path.join(snap, "SHA256SUMS")) as fh:
            manifest = dict(reversed(line.split()) for line in fh if line.strip())
        parquet = sorted(f for f in os.listdir(snap) if f.endswith(".parquet"))
        self.assertEqual(sorted(manifest), parquet)
        for name, want in manifest.items():
            with open(os.path.join(snap, name), "rb") as fh:
                self.assertEqual(hashlib.sha256(fh.read()).hexdigest(), want, name)


class InputBytesTest(unittest.TestCase):
    def test_bytes_per_name_and_distinct_total_outside_the_warehouse(self):
        import run
        tmp = tempfile.mkdtemp()
        try:
            wh = os.path.join(tmp, "wh")
            os.makedirs(os.path.join(wh, "t"))
            a, b, c = os.path.join(tmp, "a"), os.path.join(tmp, "b"), os.path.join(wh, "t", "c")
            for path, size in ((a, 10), (b, 32), (c, 100)):
                with open(path, "wb") as fh:
                    fh.write(b"x" * size)
            per_name, outside = run.input_bytes(
                {"inputs": {"q1": ["file:" + a, "file://" + b], "q2": ["file:" + b],
                            "q3": ["file:" + c]}}, wh)
            self.assertEqual(per_name, {"q1": 42, "q2": 32, "q3": 100})
            self.assertEqual(outside, 42)
        finally:
            shutil.rmtree(tmp)


if __name__ == "__main__":
    unittest.main()
