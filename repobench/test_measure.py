"""Self-tests of the benchmark's measurement code.

    python3 repobench/test_measure.py

The generator test compiles the driver first (see build.py) if needed.
"""
import json
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import measure as m  # noqa: E402
import querydata  # noqa: E402


def progress(batch, start, end, start_ms, trigger_ms, rows=None):
    return {"batch": batch, "start_offset": start, "end_offset": end, "start_ms": start_ms,
            "rows": rows if rows is not None else m.offset_of(end) - m.offset_of(start),
            "duration_ms": {"triggerExecution": trigger_ms}}


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(m.tail_percentile(1000), 99)
        self.assertEqual(m.tail_percentile(999), 95)
        self.assertEqual(m.tail_percentile(200), 95)
        self.assertEqual(m.tail_percentile(199), 90)
        self.assertEqual(m.tail_percentile(100), 90)
        self.assertEqual(m.tail_percentile(40), 75)
        self.assertEqual(m.tail_percentile(39), 50)
        self.assertEqual(m.tail_percentile(3), 50)

    def test_percentile(self):
        self.assertEqual(m.pct(list(range(101)), 99), 99.0)
        self.assertEqual(m.pct([], 50), 0.0)


class OffsetsToBatches(unittest.TestCase):
    # a warm-up batch, an idle trigger, two data batches, listed out of order
    PROGRESS = [
        progress(2, "100", "160", 2000.0, 50),
        progress(0, None, "40", 1000.0, 300),
        progress(3, "160", "160", 2100.0, 1, rows=0),
        progress(1, "40", "100", 1500.0, 200),
    ]

    def test_batches_in_order_with_commit_times(self):
        self.assertEqual(m.batches(self.PROGRESS),
                         [(0, 40, 1300.0), (40, 100, 1700.0), (100, 160, 2050.0)])

    def test_rows_map_to_the_batch_holding_their_offset(self):
        # measured rows start after 40 warm-up rows
        commit = m.commit_times(m.batches(self.PROGRESS), 40, 120)
        self.assertTrue((commit[:60] == 1700.0).all())
        self.assertTrue((commit[60:] == 2050.0).all())

    def test_uncovered_or_doubly_covered_rows_raise(self):
        bs = m.batches(self.PROGRESS)
        with self.assertRaises(ValueError):
            m.commit_times(bs, 40, 121)  # row 120 never committed
        with self.assertRaises(ValueError):
            m.commit_times(bs + [(150, 170, 2200.0)], 40, 120)

    def test_several_lanes_sum(self):
        self.assertEqual(m.offset_of("3,9"), 12)
        self.assertEqual(m.offset_of(None), 0)

    def test_backlog_and_slope(self):
        bs = m.batches(self.PROGRESS)
        points = m.backlog(bs, 40, lambda t: 120)
        self.assertEqual(points, [(1700.0, 60), (2050.0, 0)])
        grow = [(t * 1000.0, 5.0 * t) for t in range(10)]
        self.assertAlmostEqual(m.slope_per_s(grow), 5.0)

    def test_service_rate_leaves_out_the_first_and_last_batch(self):
        bs = [(0, 10, 1000.0), (10, 110, 2000.0), (110, 210, 3000.0), (210, 215, 3100.0)]
        self.assertAlmostEqual(m.service_rate(bs), 100.0)
        with self.assertRaises(ValueError):
            m.service_rate(bs[:3])


class HashNormaliser(unittest.TestCase):
    """Results are compared with scripts/selfcheck.py's normaliser."""

    def test_doubles_round_to_4dp_and_zero_and_nan_are_canonical(self):
        norm = querydata.selfcheck().norm
        self.assertEqual(norm(-0.0), norm(0.0))
        self.assertEqual(repr(norm(-0.0)), "0.0")
        self.assertEqual(norm(float("nan")), "NaN")
        self.assertEqual(norm(1.00004), norm(1.0))
        self.assertNotEqual(norm(1.00016), norm(1.0))
        self.assertEqual(norm([1.00001, None]), (1.0, None))

    def test_comparison_ignores_column_and_row_order(self):
        con = duckdb.connect()

        def q(rows, cols="a, b"):
            return querydata.normalised(con.execute(
                f"SELECT * FROM (VALUES {rows}) t({cols})"))
        a = q("(1, -0.0::DOUBLE), (2, 3.00001::DOUBLE)")
        self.assertEqual(a, q("(3.0::DOUBLE, 2), (0.0::DOUBLE, 1)", "b, a"))
        self.assertNotEqual(a, q("(1, 0.0::DOUBLE), (2, 3.001::DOUBLE)"))
        self.assertNotEqual(a, q("(1, 0.0::DOUBLE), (2, 3.0::DOUBLE)", "a, c"))
        self.assertNotEqual(a, q("(1, 0.0::DOUBLE)"))

    def test_check_compares_every_execution_with_the_oracle(self):
        build.BUILD.mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=build.BUILD) as d:
            d = Path(d)
            (d / "data").mkdir()
            pq.write_table(pa.table({"x": [1.0, 2.0, 3.0]}), d / "data" / "t.parquet")
            for name, xs in (("good", [6.00001]), ("bad", [5.0])):
                (d / name).mkdir()
                pq.write_table(pa.table({"s": xs}), d / name / "part-0.parquet")
            oracle = {"r": "SELECT sum(x) AS s FROM t"}
            out = querydata.check(d / "data", oracle, {
                ("r", 0): d / "good", ("r", 1): d / "bad", ("other", 0): d / "good"})
            self.assertIsNone(out[("r", 0)])
            self.assertIn("!= oracle", out[("r", 1)])
            self.assertIn("KeyError", out[("other", 0)])


class SeedDeterminism(unittest.TestCase):
    def gen(self, seed):
        classes = build.build()
        out = subprocess.run(["java", "-cp", build.classpath(classes), "repobench.Driver",
                              "mode=gen", f"seed={seed}", "rows=100000"],
                             capture_output=True, text=True, check=True, timeout=120)
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_line_mix_is_a_function_of_the_seed(self):
        a, b, c = self.gen(7), self.gen(7), self.gen(8)
        self.assertEqual(a, b)
        self.assertNotEqual(a["sha256"], c["sha256"])
        self.assertAlmostEqual(a["long_share"], 1 / 32, delta=0.005)
        self.assertTrue(85 < a["mean_bytes"] < 140, a["mean_bytes"])

    def test_query_tables_are_a_function_of_the_seed(self):
        build.BUILD.mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=build.BUILD) as d:
            for name, seed in (("a", 3), ("b", 3), ("c", 4)):
                querydata.generate(seed, Path(d) / name)
            for t in querydata.SIZES:
                a, b, c = (pq.read_table(Path(d) / x / f"{t}.parquet") for x in "abc")
                self.assertTrue(a.equals(b), t)
                self.assertFalse(a.equals(c), t)
                self.assertEqual(a.num_rows, querydata.SIZES[t])
            texts = pq.read_table(Path(d) / "a" / "documents.parquet")["text"].to_pylist()
            dups = sum(t.endswith(" dup") for t in texts)
            self.assertTrue(0.04 * len(texts) <= dups <= len(texts) / querydata.DUP_EVERY, dups)


if __name__ == "__main__":
    unittest.main()
