"""Tests of the benchmark's own checks: each passes on a correct output and
fails on a deliberately corrupted one.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import collections
import json
import os
import re
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import check
import gen

WS = re.compile(r"[ \t\n\x0b\f\r]+")  # Java's \s, which the program splits on


def contract_counts(pages_dir):
    """Entity counts by re-reading the written pages with the NER contract:
    what a correct program outputs."""
    counts = collections.Counter()
    for name in sorted(os.listdir(pages_dir)):
        with open(os.path.join(pages_dir, name), encoding="utf-8") as f:
            for line in f.read().splitlines():
                try:
                    a = json.loads(line)
                except ValueError:
                    continue
                text = " ".join(a[k] for k in ("title", "description", "content") if a[k] is not None)
                counts.update(t for t in WS.split(text)
                              if t in gen.GAZETTEER or gen.ENTITY_RE.match(t))
    return dict(counts)


class StreamCheckTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.pages = os.path.join(cls.tmp.name, "pages")
        cls.meta = gen.write_stream_pages(cls.pages, "stream_small_triggers", 7, pages=3,
                                          shape=dict(articles=120, vocab=300))
        cls.counts = contract_counts(cls.pages)
        cls.rows = list(cls.meta["articles"])

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def run_check(self, counts=None, rows=None, last=2):
        return check.check_stream(self.meta, last, self.rows if rows is None else rows,
                                  self.counts if counts is None else counts)

    def test_generator_tally_matches_the_written_text(self):
        self.assertEqual(self.run_check(), [])
        self.assertGreater(sum(self.counts.values()), 1000)

    def test_wrong_count_fails(self):
        bad = dict(self.counts)
        e = next(iter(bad))
        bad[e] += 1
        self.assertTrue(self.run_check(counts=bad))

    def test_missing_entity_fails(self):
        bad = dict(self.counts)
        bad.pop(next(iter(bad)))
        self.assertTrue(self.run_check(counts=bad))

    def test_decoy_counted_as_entity_fails(self):
        self.assertTrue(self.run_check(counts=dict(self.counts, **{"Berlin,": 1})))

    def test_input_rows_off_by_one_fails(self):
        self.assertTrue(self.run_check(rows=self.rows[:-1] + [self.rows[-1] - 1]))

    def test_counts_of_fewer_pages_fail(self):
        self.assertTrue(self.run_check(last=1))

    def test_read_counts_rejects_duplicate_entities(self):
        path = os.path.join(self.tmp.name, "dup.tsv")
        with open(path, "w") as f:
            f.write("Alpha\t1\nAlpha\t2\n")
        with self.assertRaises(ValueError):
            check.read_counts(path)


class BatchCheckTest(unittest.TestCase):
    SQL = "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.tables = os.path.join(cls.tmp.name, "tables")
        gen.write_tables(cls.tables, 7)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def result(self, name, table, pass_dir="results"):
        d = os.path.join(self.tmp.name, pass_dir, name)
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, "part-0.parquet"))

    def run_check(self, name, table, warm_table=None):
        """Check a first-pass result and a warm-up-pass result (the same
        table unless `warm_table` is given)."""
        self.result(name, table)
        self.result(name, table if warm_table is None else warm_table, "results-warmup")
        dirs = [os.path.join(self.tmp.name, d) for d in ("results", "results-warmup")]
        return check.check_batch(self.tables, dirs, {name: self.SQL}, [name])

    def region(self, names=("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")):
        return pa.table({"r_name": list(names),
                         "r_regionkey": pa.array(range(len(names)), pa.int32())})

    def test_matching_result_passes(self):
        self.assertEqual(self.run_check("ok", self.region()), [])

    def test_changed_value_fails(self):
        self.assertTrue(self.run_check("value", self.region(
            ("AFRICA", "AMERICA", "ASIA", "EUROPA", "MIDDLE EAST"))))

    def test_row_order_fails(self):
        t = self.region()
        self.assertTrue(self.run_check("order", t.take([1, 0, 2, 3, 4])))

    def test_missing_row_fails(self):
        self.assertTrue(self.run_check("rows", self.region()[:4]))

    def test_renamed_column_fails(self):
        self.assertTrue(self.run_check("cols", self.region().rename_columns(["name", "r_regionkey"])))

    def test_wrong_warm_pass_result_fails(self):
        errors = self.run_check("warm", self.region(), warm_table=self.region()[:4])
        self.assertEqual(len(errors), 1)
        self.assertIn("results-warmup", errors[0])

    def test_missing_result_fails(self):
        errors = check.check_batch(self.tables, [os.path.join(self.tmp.name, "results")],
                                   {"absent": self.SQL}, ["absent"])
        self.assertTrue(errors)


if __name__ == "__main__":
    unittest.main()
