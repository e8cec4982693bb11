"""Tests of the benchmark's own machinery (no Spark needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratedInputs(unittest.TestCase):
    def gen_tables(self, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.tables(seed, d)
            return tree_digest(d)

    def gen_bins(self, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.ifcb_days(seed, d, 2)
            return tree_digest(d)

    def test_same_seed_gives_byte_identical_tables(self):
        self.assertEqual(self.gen_tables(7), self.gen_tables(7))

    def test_different_seed_gives_different_tables(self):
        self.assertNotEqual(self.gen_tables(7), self.gen_tables(8))

    def test_same_seed_gives_byte_identical_bins(self):
        self.assertEqual(self.gen_bins(3), self.gen_bins(3))

    def test_different_seed_gives_different_bins(self):
        self.assertNotEqual(self.gen_bins(3), self.gen_bins(4))

    def test_tables_keep_shape_and_change_content(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ca, cb = gen.tables(1, a), gen.tables(2, b)
            self.assertEqual(set(ca), set(cb))
            con = duckdb.connect()
            ka = con.execute(f"SELECT list(o_orderkey ORDER BY o_orderkey) "
                             f"FROM '{a}/orders.parquet'").fetchone()[0]
            kb = con.execute(f"SELECT list(o_orderkey ORDER BY o_orderkey) "
                             f"FROM '{b}/orders.parquet'").fetchone()[0]
            self.assertEqual(len(ka), len(kb))
            self.assertNotEqual(ka, kb)

    def test_roi_raster_is_one_dark_ellipse_on_bright_background(self):
        px, h, w = gen.render_roi(12345)
        self.assertEqual(len(px), h * w)
        centre = px[(h // 2) * w + w // 2]
        corner = px[0]
        self.assertTrue(80 <= centre <= 100 and 200 <= corner <= 220, (centre, corner))


class TailPercentile(unittest.TestCase):
    def test_picks_highest_rung_with_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        self.assertEqual(run.tail_percentile(xs), (90, 90, 10))
        xs = list(range(1, 41))   # 40 samples: p75 leaves 10, p90 only 4
        self.assertEqual(run.tail_percentile(xs), (75, 30, 10))
        xs = list(range(1, 1001))
        self.assertEqual(run.tail_percentile(xs), (99, 990, 10))

    def test_falls_back_to_median_with_too_few_samples(self):
        p, v, beyond = run.tail_percentile([5.0, 1.0, 3.0])
        self.assertEqual((p, v, beyond), (50, 3.0, 1))


class MetricNames(unittest.TestCase):
    def test_every_metric_name_is_well_formed(self):
        names = list(run.E2E_UNITS) + list(run.PER_LAYER)
        bench = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
        if os.path.exists(bench):
            with open(bench) as f:
                b = json.load(f)
            names += [m["name"] for m in b["end_to_end"] + b["per_layer"]]
            self.assertEqual([m["name"] for m in b["end_to_end"]], list(run.E2E_UNITS))
            self.assertEqual([m["name"] for m in b["per_layer"]], list(run.PER_LAYER))
        for n in names:
            self.assertRegex(n, NAME)
            self.assertLessEqual(len(n), 64)
        self.assertEqual(len(set(run.PER_LAYER)), len(run.PER_LAYER))

    def test_per_layer_names_match_the_jvm_side(self):
        with open(os.path.join(HERE, "src", "main", "scala", "perfbench", "Layers.scala")) as f:
            src = f.read()
        for n in run.PER_LAYER:
            if not n.startswith("queries.q"):
                self.assertIn(f'"{n}"', src)


class PerturbedOutput(unittest.TestCase):
    def test_a_dropped_row_counts_in_error_rate(self):
        with tempfile.TemporaryDirectory() as tables, tempfile.TemporaryDirectory() as res:
            con = duckdb.connect()
            for t in oracle.TABLES:
                con.execute(f"COPY (SELECT range AS k, range * 2 AS v FROM range(5)) "
                            f"TO '{tables}/{t}.parquet' (FORMAT PARQUET)")
            sql = {"q_good": "SELECT k, v FROM lineitem ORDER BY k",
                   "q_bad": "SELECT k, v FROM lineitem ORDER BY k"}
            full = pd.DataFrame({"k": range(5), "v": [2 * i for i in range(5)]})
            for name, df in [("q_good", full), ("q_bad", full.drop(index=2))]:
                os.makedirs(os.path.join(res, name))
                df.to_parquet(os.path.join(res, name, "part-0.parquet"), index=False)
            checks = oracle.compare_results(oracle.start(tables, sql), res)
            failed = [n for n, ok, _ in checks if not ok]
            self.assertEqual(failed, ["q_bad"])
            # two passes ran both steps: the bad step's two runs both count
            attempted, n_failed = run.error_accounting(
                4, 0, failed, {"q_good": 2, "q_bad": 2})
            self.assertEqual((attempted, n_failed), (4, 2))
            self.assertAlmostEqual(n_failed / attempted, 0.5)


if __name__ == "__main__":
    unittest.main()
