"""Self-tests of the benchmark's own logic (no JVM needed):

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lib import consume, gen, layers, stats  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class BenchmarkJson(unittest.TestCase):
    def test_metric_lists_match_what_run_py_prints(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            doc = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in doc["end_to_end"]], layers.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in doc["per_layer"]], layers.PER_LAYER)
        self.assertIn("setup_s", [m["name"] for m in doc["end_to_end"]])


class PercentileRule(unittest.TestCase):
    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(60), 83)
        self.assertEqual(stats.tail_percentile(11), 9)
        self.assertIsNone(stats.tail_percentile(10))
        for n in (11, 37, 100, 250, 999):
            p = stats.tail_percentile(n)
            self.assertGreaterEqual(n - n * p / 100.0, 10 - 1e-9)
            self.assertLess(n - n * (p + 1) / 100.0, 10)

    def test_graded_tail_percentiles_meet_the_rule(self):
        # consume_sql measures at least two whole statement cycles, and
        # stream_ingest covers one segment per publishing period
        self.assertGreaterEqual(stats.tail_percentile(2 * len(consume.CYCLE)), 75)
        live = 10 * 1000 // gen.STREAM["period_ms"]
        self.assertGreaterEqual(stats.tail_percentile(live), 90)

    def test_percentile_interpolates_between_ranks(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 50), 3)
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 4.6)
        self.assertAlmostEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)


class StallRatio(unittest.TestCase):
    def test_max_over_median(self):
        self.assertAlmostEqual(stats.stall_ratio([200.0, 210.0, 205.0]), 210.0 / 205.0)
        # one inflated sample moves the max, not the median
        self.assertAlmostEqual(stats.stall_ratio([200.0, 2000.0, 204.0]), 2000.0 / 204.0)


class Freshness(unittest.TestCase):
    def test_first_covering_batch_per_partition(self):
        published = [
            {"partition": 0, "end_offset": 100, "due_ms": 1000.0},
            {"partition": 1, "end_offset": 100, "due_ms": 1100.0},
            {"partition": 0, "end_offset": 200, "due_ms": 1200.0},
            {"partition": 1, "end_offset": 200, "due_ms": 1300.0},
        ]
        progress = [
            # out of order on purpose; end offsets as object and as text
            {"sink_done_ms": 1900.0, "sources": [{"endOffset": {"0": 200, "1": 200}}]},
            {"sink_done_ms": 1500.0, "sources": [{"endOffset": json.dumps({"0": 200, "1": 100})}]},
            {"sink_done_ms": 1250.0, "sources": [{"endOffset": {"0": 100, "1": 0}}]},
            {"sources": [{"endOffset": {"0": 999, "1": 999}}]},  # sink never finished
        ]
        self.assertEqual(stats.freshness_ms(published, progress), [250.0, 400.0, 300.0, 600.0])

    def test_uncovered_segment_is_none(self):
        published = [{"partition": 2, "end_offset": 10, "due_ms": 0.0}]
        progress = [{"sink_done_ms": 5.0, "sources": [{"endOffset": {"0": 10}}]}]
        self.assertEqual(stats.freshness_ms(published, progress), [None])


class SpanSelfTime(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        spans = [
            {"id": "op", "parent": "", "name": "op", "start": 0.0, "end": 100.0},
            {"id": "j1", "parent": "op", "name": "job", "start": 10.0, "end": 40.0},
            {"id": "j2", "parent": "op", "name": "job", "start": 30.0, "end": 60.0},
            {"id": "j3", "parent": "op", "name": "job", "start": 90.0, "end": 120.0},
            {"id": "s1", "parent": "j1", "name": "stage", "start": 15.0, "end": 20.0},
        ]
        self_ms = stats.self_times(spans)
        self.assertEqual(self_ms["op"], 100.0 - 50.0 - 10.0)
        self.assertEqual(self_ms["j1"], 25.0)
        self.assertEqual(self_ms["j3"], 30.0)
        self.assertEqual(self_ms["s1"], 5.0)


class RowChecks(unittest.TestCase):
    def test_rows_match_is_order_free_with_float_tolerance(self):
        self.assertTrue(stats.rows_match([["a", 1, 0.1 + 0.2], [None, 2, 1.0]],
                                         [[None, 2, 1.0], ["a", 1, 0.3]]))
        self.assertFalse(stats.rows_match([["a", 1, 0.31]], [["a", 1, 0.3]]))
        self.assertFalse(stats.rows_match([["a", 1]], [["a", 1], ["b", 2]]))

    def test_rows_subset(self):
        self.assertTrue(stats.rows_subset([[1, 2]], [[3, 4], [1, 2]]))
        self.assertFalse(stats.rows_subset([[1, 2], [1, 2]], [[1, 2]]))


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_same_files(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            for d, seed in ((a, 7), (b, 7), (c, 8)):
                gen.curation_tables(seed, os.path.join(d, "cur"))
                gen.stream_topics(seed, os.path.join(d, "stream"), 2)
                gen.write_topic(gen.np.random.default_rng([seed, 1]), os.path.join(d, "t"),
                                "transit", 2, 2, 100)
            fa, fb, fc = (gen.fingerprint(d) for d in (a, b, c))
            self.assertEqual(fa["sha256"], fb["sha256"])
            self.assertEqual(fa["per_file"], fb["per_file"])
            self.assertNotEqual(fa["sha256"], fc["sha256"])
            self.assertEqual(fa["rows"], fc["rows"])

    def test_offsets_dense_per_partition(self):
        with tempfile.TemporaryDirectory() as d:
            meta = gen.write_topic(gen.np.random.default_rng(1), d, "transit", 2, 3, 50)
            for p in range(2):
                offs = []
                for s in range(3):
                    offs += pq.read_table(gen.segment_path(d, "transit", p, s))["offset"].to_pylist()
                self.assertEqual(offs, list(range(meta["leo"])))


def _python_answer(op, records):
    """An independent evaluation of one consume_sql statement over the
    records (partition, offset, parsed payload, raw value)."""
    if "expect" in op:
        return op["expect"]
    rows = [r for r in records
            if r[0] in op["window"] and op["window"][r[0]][0] <= r[1] < op["window"][r[0]][1]]
    if "filter" in op:
        key, val, cap = op["filter"]
        rows = sorted((r for r in rows if r[2].get(key) == val), key=lambda r: r[1])[:cap]
        return [[len(rows), min(r[1] for r in rows), max(r[1] for r in rows),
                 sum(len(r[3]) for r in rows)]]
    vp = [r[2]["VP"] for r in rows]
    if op["select"] == consume.SMALL_SELECT:
        return [[len(vp), sum(v["veh"] for v in vp), sum(v["spd"] for v in vp) / len(vp)]]
    if op["kind"] == "jolt":
        return [[len(vp), sum(v["spd"] for v in vp) / len(vp), sum(v["veh"] for v in vp)]]
    groups = {}
    if op["select"] == consume.AGGS[0][0]:
        for v in vp:
            groups.setdefault(v["route"], []).append(v)
        return [[k, sum(v["spd"] for v in g) / len(g), len(g)] for k, g in groups.items()]
    if op["select"] == consume.AGGS[1][0]:
        for v in vp:
            groups.setdefault(v["hdg"] // 90, []).append(v)
        return [[k, len(g), sum(v["spd"] for v in g) / len(g), max(v["veh"] for v in g)]
                for k, g in groups.items()]
    for v in vp:
        groups.setdefault(v["oper"], []).append(v)
    return [[k, len(g), sum(v["odo"] for v in g), sum(v["drst"] for v in g),
             sum(v["occu"] for v in g) / len(g)] for k, g in groups.items()]


class OracleRoundTrip(unittest.TestCase):
    """Each consume_sql statement class: the DuckDB oracle over the segment
    files equals a plain-Python evaluation of the same statement."""

    @classmethod
    def setUpClass(cls):
        cls.dir = tempfile.TemporaryDirectory()
        cls.meta = gen.write_topic(gen.np.random.default_rng(5), cls.dir.name, "transit",
                                   2, 4, 1000)
        cls.ops = consume.make_ops(5, cls.meta, "/nonexistent/shift.yaml")
        cls.records = []
        for p in range(2):
            for s in range(4):
                t = pq.read_table(gen.segment_path(cls.dir.name, "transit", p, s))
                for off, value in zip(t["offset"].to_pylist(), t["value"].to_pylist()):
                    cls.records.append((p, off, json.loads(value), value))
        cls.expected = consume.expected(duckdb.connect(), cls.dir.name, cls.ops)

    @classmethod
    def tearDownClass(cls):
        cls.dir.cleanup()

    def test_every_class_round_trips(self):
        seen = set()
        for op in self.ops:
            with self.subTest(op=op["id"]):
                got = self.expected[op["id"]]["ref"]
                self.assertTrue(stats.rows_match(got, _python_answer(op, self.records)),
                                "%s: %s" % (op["id"], got))
                seen.add(op["kind"])
        self.assertEqual(seen, set(consume.KINDS))

    def test_known_defect_variant_differs_only_for_digit_strings(self):
        flagship = next(o for o in self.ops if o["select"] == consume.AGGS[0][0])
        ref = self.expected[flagship["id"]]["ref"]
        defect = self.expected[flagship["id"]]["defect"]
        digit = [r for r in ref if r[0].isdigit()]
        self.assertTrue(digit)
        self.assertEqual(sum(r[2] for r in defect if r[0] is None), sum(r[2] for r in digit))
        self.assertTrue(stats.rows_match([r for r in defect if r[0] is not None],
                                         [r for r in ref if not r[0].isdigit()]))


if __name__ == "__main__":
    unittest.main()
