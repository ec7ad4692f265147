"""Tests of the benchmark's own parts that need no JVM.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import gen  # noqa: E402

import pyarrow.parquet as pq  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for t in gen.TABLES:
        with open(os.path.join(d, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def rows(d, t):
    return sorted(map(repr, pq.read_table(os.path.join(d, f"{t}.parquet"))
                      .to_pylist()))


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_layout_same_rows(self):
        with tempfile.TemporaryDirectory() as tmp:
            a, b, c = (os.path.join(tmp, x) for x in "abc")
            gen.corpus(a, "dups", 400, 200, 4, seed=1)
            gen.corpus(b, "dups", 400, 200, 4, seed=1)
            gen.corpus(c, "dups", 400, 200, 4, seed=2)
            self.assertEqual(digest(a), digest(b))
            self.assertNotEqual(digest(a), digest(c))
            for t in ("documents", "embeddings", "lineitem"):
                self.assertEqual(rows(a, t), rows(c, t))

    def test_corpora_share_row_counts_and_differ_in_duplicates(self):
        with tempfile.TemporaryDirectory() as tmp:
            dups = gen.corpus(os.path.join(tmp, "d"), "dups", 400, 200, 4, 3)
            dist = gen.corpus(os.path.join(tmp, "x"), "distinct", 400, 200, 4, 3)
            self.assertEqual(dups, {"dup_text_share": 0.75,
                                    "dup_vector_share": 0.75})
            self.assertEqual(dist, {"dup_text_share": 0.0,
                                    "dup_vector_share": 0.0})
            for t in gen.TABLES:
                n = [pq.read_metadata(os.path.join(tmp, k, f"{t}.parquet"))
                     .num_rows for k in "dx"]
                self.assertEqual(n[0], n[1], t)

    def test_every_table_the_queries_read_is_written(self):
        with tempfile.TemporaryDirectory() as tmp:
            gen.tables(tmp, 0.001, seed=5)
            for t in gen.TABLES:
                self.assertTrue(os.path.exists(os.path.join(tmp, f"{t}.parquet")))


class ContractTest(unittest.TestCase):
    NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

    def setUp(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)),
                               "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_metric_and_workload_names_follow_the_grammar(self):
        s = self.spec
        names = [w["name"] for w in s["workloads"]] + [
            m["name"] for m in s["end_to_end"] + s["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, self.NAME)
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertRegex(m["unit"], self.UNIT)
            self.assertIn(m["better"], ("lower", "higher"))

    def test_shape_and_bounds(self):
        s = self.spec
        self.assertEqual(set(s), {"command", "paths", "run_seconds",
                                  "workloads", "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual(setup[0]["bound"],
                         max(m["bound"] for m in s["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
