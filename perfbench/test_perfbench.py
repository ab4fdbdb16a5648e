"""Self-tests of the benchmark's arithmetic and of its input generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import os
import shutil
import statistics
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_closest_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(stats.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 3.7)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)

    def test_median_of_odd_count_is_the_middle_sample(self):
        self.assertEqual(stats.median([5.0, 1.0, 9.0]), 5.0)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_tail_keeps_ten_samples_beyond_it(self):
        xs = [float(i) for i in range(1, 1001)]
        v, p, n = stats.tail(xs)
        self.assertEqual((p, n), (99.0, 1000))
        self.assertAlmostEqual(v, stats.percentile(xs, 99.0))
        self.assertEqual(stats.tail(xs[:200])[1], 95.0)
        self.assertEqual(stats.tail(xs[:199])[1], 90.0)

    def test_thin_tail_falls_back_to_p90(self):
        v, p, n = stats.tail([1.0, 2.0, 3.0])
        self.assertEqual((p, n), (90.0, 3))
        self.assertAlmostEqual(v, 2.8)

    def test_quartiles_match_the_statistics_module(self):
        xs = [3.1, 2.7, 9.4, 5.0, 4.4, 6.8, 1.2, 7.7, 3.3, 5.9]
        q = statistics.quantiles(xs, n=4)
        self.assertEqual(stats.quartiles(xs), (q[0], q[1], q[2]))


class OverheadTest(unittest.TestCase):
    def test_compares_like_op_kinds(self):
        # kind 0 costs 1 s, kind 1 costs 3 s; tracing adds 10% to both
        ops = [{"i": i, "lat_s": (1.0 if i % 2 == 0 else 3.0) * (1.1 if i < 2 else 1.0),
                "traced": i < 2} for i in range(4)]
        self.assertAlmostEqual(stats.overhead(ops, 2), 0.1)

    def test_no_untraced_ops_gives_zero(self):
        self.assertEqual(stats.overhead([{"i": 0, "lat_s": 1.0, "traced": True}], 1), 0.0)


def span(i, name, start, end, parent=-1, op=0):
    return {"id": i, "name": name, "start_s": start, "end_s": end, "parent": parent, "op": op}


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_direct_children_only(self):
        spans = [
            span(0, "op", 0.0, 10.0),
            span(1, "runCycle", 1.0, 7.0, parent=0),
            span(2, "inner", 2.0, 5.0, parent=1),
            span(3, "collect", 7.5, 9.0, parent=0),
        ]
        t = stats.self_times(spans)
        self.assertAlmostEqual(t["op"]["self_s"], 10.0 - 6.0 - 1.5)
        self.assertAlmostEqual(t["runCycle"]["self_s"], 6.0 - 3.0)
        self.assertAlmostEqual(t["inner"]["self_s"], 3.0)
        self.assertAlmostEqual(t["collect"]["total_s"], 1.5)
        total_self = sum(v["self_s"] for v in t.values())
        self.assertAlmostEqual(total_self, 10.0)

    def test_repeated_names_accumulate(self):
        spans = [span(0, "read", 0.0, 1.0), span(1, "read", 2.0, 2.5)]
        t = stats.self_times(spans)["read"]
        self.assertEqual(t["calls"], 2)
        self.assertAlmostEqual(t["self_s"], 1.5)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench-test-")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def gen(self, workload, seed, name):
        out = os.path.join(self.tmp, name)
        gen.generate(workload, seed, out)
        return out

    def same(self, a, b):
        files = sorted(os.listdir(a))
        self.assertEqual(files, sorted(os.listdir(b)))
        match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
        return not mismatch and not errors

    def test_same_seed_gives_identical_inputs(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                self.assertTrue(self.same(self.gen(w, 7, w + "-a"), self.gen(w, 7, w + "-b")))

    def test_other_seed_gives_other_inputs(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                self.assertFalse(self.same(self.gen(w, 7, w + "-a"), self.gen(w, 8, w + "-b")))

    def test_near_duplicates_are_pairs_not_cliques(self):
        import pyarrow.parquet as pq
        texts = pq.read_table(os.path.join(self.gen("llm_curation", 3, "llm"),
                                           "documents.parquet"))["text"].to_pylist()
        dups = [t for t in texts if t.endswith(" dup")]
        self.assertEqual(len(dups), int(gen.N_DOCS * gen.DUP_RATE))
        self.assertEqual(len(set(texts)), len(texts))


class ContractTest(unittest.TestCase):
    def setUp(self):
        import json
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_metrics_match_what_the_runner_prints(self):
        b = self.bench
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.PER_LAYER)
        self.assertTrue(set(w["name"] for w in b["workloads"]) <= set(gen.WORKLOADS))

    def test_limits(self):
        import re
        b = self.bench
        names = [x["name"] for k in ("workloads", "end_to_end", "per_layer") for x in b[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        for w in b["workloads"]:
            self.assertLessEqual(len(w["why"]), 200)
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in b["end_to_end"]))
        self.assertTrue(all(re.match(r"^[A-Za-z0-9_/%.-]{1,16}$", m["unit"])
                            for k in ("end_to_end", "per_layer") for m in b[k]))


if __name__ == "__main__":
    unittest.main()
