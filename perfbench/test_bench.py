"""Self-tests for the benchmark's pure parts.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402
import pin  # noqa: E402


class SlicesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(BENCH, "slices.json")) as f:
            self.s = json.load(f)

    def test_disjoint_and_cover_the_pinned_catalog(self):
        flat = [n for sl in self.s["slices"] for n in sl]
        self.assertEqual(len(flat), len(set(flat)))
        self.assertEqual(sorted(flat), sorted(self.s["catalog"]))
        modules = [n for ns in self.s["modules"].values() for n in ns]
        self.assertEqual(sorted(modules), sorted(self.s["catalog"]))

    def test_stratified_by_module(self):
        k = len(self.s["slices"])
        for module, names in self.s["modules"].items():
            counts = [len(set(sl) & set(names)) for sl in self.s["slices"]]
            self.assertLessEqual(max(counts) - min(counts), 1, module)
            if len(names) >= k:  # every slice holds this module
                self.assertGreater(min(counts), 0, module)

    def test_every_pinned_name_has_pinned_outputs(self):
        with open(os.path.join(BENCH, "pinned.json")) as f:
            pinned = json.load(f)
        self.assertEqual(sorted(pinned), ["sf0.01"])
        self.assertEqual(sorted(pinned["sf0.01"]), sorted(self.s["catalog"]))

    def test_partition_rule(self):
        modules = [("A", ["a1", "a2", "a3", "a4"]), ("B", ["b1", "b2"])]
        cost = {"a1": 4.0, "a2": 3.0, "a3": 2.0, "a4": 1.0, "b1": 1.0, "b2": 1.0}
        slices = pin.make_slices(modules, 2, [(lambda sl: sum(cost[n] for n in sl), 6.0, 1.0)])
        self.assertEqual(sorted(n for s in slices for n in s), sorted(cost))
        self.assertEqual([sum(cost[n] for n in s) for s in slices], [6.0, 6.0])
        for s in slices:
            self.assertEqual(s, sorted(s, key=lambda n: (n[0], n)))  # registry order
            self.assertEqual(sum(1 for n in s if n[0] == "b"), 1)  # one of B each

    def test_restarts_keep_the_strata_and_never_do_worse(self):
        modules = [("A", [f"a{i}" for i in range(9)]), ("B", ["b0", "b1", "b2"])]
        cost = {n: 1.0 + int(n[1:]) ** 2 for _, ns in modules for n in ns}
        total = sum(cost.values())
        stats = [(lambda sl: sum(cost[n] for n in sl), total / 3, 1.0)]

        def deviation(slices):
            return sum((sum(cost[n] for n in s) / (total / 3) - 1) ** 2 for s in slices)
        one = pin.make_slices(modules, 3, stats)
        many = pin.make_slices(modules, 3, stats, restarts=8)
        self.assertEqual(sorted(n for s in many for n in s), sorted(cost))
        for s in many:
            self.assertEqual(sum(1 for n in s if n[0] == "a"), 3)
            self.assertEqual(sum(1 for n in s if n[0] == "b"), 1)
        self.assertLessEqual(deviation(many), deviation(one))


class MeasuredCostsTest(unittest.TestCase):
    PROFILE = {"passes": [
        {"queries": [{"name": "a", "s": 3.0, "cpu_s": 3.0}, {"name": "b", "s": 5.0, "cpu_s": 5.0},
                     {"name": "c", "s": 7.0, "cpu_s": 7.0}]},
        {"queries": [{"name": "a", "s": 1.0, "cpu_s": 1.0}, {"name": "b", "s": 2.0, "cpu_s": 2.0},
                     {"name": "c", "s": 0.5, "cpu_s": 0.5}]}]}

    def _record(self, d, name, scale):
        # slice [a, b]: the first timed pass twice as slow as the second
        ops = [("a", 2.0), ("b", 4.0), ("a", 1.0), ("b", 2.0)]
        rec = {"slice": ["a", "b"], "record": {
            "setup_ops": [{"name": "a", "s": 9.0}, {"name": "b", "s": 6.0}],
            "ops": [{"name": n, "s": x * scale, "cpu_s": x * scale} for n, x in ops]}}
        path = os.path.join(d, name)
        with open(path, "w") as f:
            json.dump(rec, f)
        return path

    def test_host_speed_cancels_and_passes_stay_apart(self):
        with tempfile.TemporaryDirectory() as d:
            fast = self._record(d, "fast.json", 1.0)
            slow = self._record(d, "slow.json", 2.0)
            first, served, cpu = pin.measured_costs(self.PROFILE, [fast, slow], 2)
        # both runs read 1.5x (and 3x) the profile: a slower run is scaled back
        self.assertAlmostEqual(served[0]["a"], 2.0 / 1.5)
        self.assertAlmostEqual(served[1]["a"], 1.0 / 1.5)
        self.assertAlmostEqual(served[0]["b"], 4.0 / 1.5)
        self.assertAlmostEqual(cpu["b"], (4.0 / 1.5 + 2.0 / 1.5) / 2)
        # unmeasured queries keep the profile's served time for every pass
        self.assertEqual((served[0]["c"], served[1]["c"]), (0.5, 0.5))
        self.assertEqual((first["a"], first["c"]), (9.0, 7.0))


class TailRuleTest(unittest.TestCase):
    def test_ten_ops_beyond(self):
        xs = list(range(1, 26))  # 25 ops
        t = metrics.tail_rule(list(reversed(xs)))
        self.assertEqual(t["value"], 15)
        self.assertEqual(sum(1 for x in xs if x > t["value"]), 10)
        self.assertAlmostEqual(t["percentile"], 60.0)

    def test_exactly_eleven_ops(self):
        t = metrics.tail_rule([5.0, 1.0, 2.0, 3.0, 4.0, 6.0, 7.0, 8.0, 9.0, 10.0, 11.0])
        self.assertEqual(t["value"], 1.0)
        self.assertAlmostEqual(t["percentile"], 100.0 / 11)

    def test_too_few_ops_falls_back_to_max(self):
        t = metrics.tail_rule([0.3, 0.1, 0.2])
        self.assertEqual((t["value"], t["percentile"], t["ops"]), (0.3, 100.0, 3))


class GeneratorTest(unittest.TestCase):
    def _twice(self, write):
        with tempfile.TemporaryDirectory() as d:
            a, b = os.path.join(d, "a"), os.path.join(d, "b")
            write(a)
            write(b)
            return filecmp.cmpfiles(a, b, sorted(os.listdir(a)), shallow=False) if os.path.isdir(a) \
                else filecmp.cmp(a, b, shallow=False)

    def test_catalog_tables_are_byte_identical(self):
        match, mismatch, errors = self._twice(lambda p: gen.write_catalog(0.001, p))
        self.assertEqual((len(match), mismatch, errors), (10, [], []))

    def test_sentiment_inputs_are_byte_identical(self):
        self.assertTrue(self._twice(lambda p: gen.write_sentiment_csv(7, 3000, p)))
        self.assertTrue(self._twice(lambda p: gen.write_batches(7, 45, p)))

    def test_seed_changes_the_corpus(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write_sentiment_csv(7, 500, os.path.join(d, "a"))
            gen.write_sentiment_csv(8, 500, os.path.join(d, "b"))
            self.assertFalse(filecmp.cmp(os.path.join(d, "a"), os.path.join(d, "b"), shallow=False))

    def test_csv_shape(self):
        with tempfile.TemporaryDirectory() as d:
            p = os.path.join(d, "t.csv")
            gen.write_sentiment_csv(3, 200, p)
            with open(p, "rb") as f:
                lines = f.read().decode("latin-1").splitlines()
            self.assertEqual(len(lines), 200)
            self.assertTrue(all(line.count('","') == 5 for line in lines))
            self.assertTrue({line[1] for line in lines} <= {"0", "2", "4"})


def span(i, name, parent, wall, start, end, jobs=(), counters=None, memo=0):
    return {"id": i, "name": name, "parent": parent, "wall_s": wall,
            "start_ms": start, "end_ms": end, "jobs": [list(j) for j in jobs],
            "memo_builds": memo, "memo_build_s": 0.5 * memo, "counters": counters}


def counters(**kw):
    c = {k: 0.0 for k in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "input_b",
                          "shuffle_read_b", "shuffle_write_b", "spill_b", "output_b",
                          "analysis_s", "optimization_s", "planning_s")}
    c.update(kw)
    return c


class SpanArithmeticTest(unittest.TestCase):
    SPANS = [
        span(0, "setup", -1, 3.0, 0, 3000),
        span(6, "op:q1", 0, 2.0, 0, 2000, counters=counters(jobs=5), memo=2),
        span(7, "build", 6, 1.5, 0, 1500, memo=2),
        span(1, "timed", -1, 10.0, 3000, 13000),
        span(2, "op:q1", 1, 4.0, 3000, 7000, jobs=[(3500, 4500), (4000, 5000)],
             counters=counters(jobs=2, run_s=6.0, input_b=2e6), memo=1),
        span(3, "build", 2, 1.0, 3000, 4000, jobs=[(3500, 4500)]),
        span(4, "op:q2", 1, 5.0, 7000, 12000, jobs=[(6000, 8000), (11000, 14000)],
             counters=counters(jobs=2, run_s=3.0, analysis_s=0.25)),
        span(5, "build", 4, 2.0, 7000, 9000),
    ]

    def test_union_merges_and_clips(self):
        self.assertAlmostEqual(metrics.union_s([(0, 10), (5, 20), (30, 40)], 0, 100), 0.03)
        self.assertAlmostEqual(metrics.union_s([(0, 10), (5, 20)], 8, 12), 0.004)
        self.assertEqual(metrics.union_s([], 0, 10), 0.0)

    def test_self_times(self):
        st = metrics.self_times(self.SPANS)
        self.assertAlmostEqual(st[1], 1.0)   # 10 - (4 + 5)
        self.assertAlmostEqual(st[2], 3.0)   # 4 - 1
        self.assertAlmostEqual(st[4], 3.0)   # 5 - 2
        self.assertAlmostEqual(st[3], 1.0)
        by = metrics.self_time_by_name(self.SPANS)
        self.assertAlmostEqual(by["op"], 6.0)
        self.assertAlmostEqual(by["build"], 3.0)
        self.assertAlmostEqual(sum(by.values()), 10.0)  # the timed section only

    def test_layer_metrics(self):
        m = metrics.layer_metrics(self.SPANS, 1.5)
        self.assertEqual(m["sched.jobs"], 4)
        self.assertAlmostEqual(m["operators.build_s"], 3.0)
        self.assertEqual(m["operators.build_jobs"], 1)
        self.assertEqual(m["memo.builds"], 1)
        # set-up builds are counted once, at the set-up section's direct child
        self.assertEqual(m["memo.setup_builds"], 2)
        self.assertAlmostEqual(m["memo.setup_build_s"], 1.0)
        self.assertEqual(m["sched.jobs"], 4)  # set-up counters stay out
        # job union: q1 3500..5000 = 1.5 s; q2 clipped 7000..8000 + 11000..12000 = 2 s
        self.assertAlmostEqual(m["sched.driver_gap_s"], 9.0 - 3.5)
        self.assertAlmostEqual(m["exec.busy_cores"], 9.0 / 3.5)
        self.assertAlmostEqual(m["input.mb"], 2.0)
        self.assertAlmostEqual(m["plan.analysis_s"], 0.25)
        self.assertEqual(set(m), set(metrics.LAYER_UNITS))


class SummaryTest(unittest.TestCase):
    RECORD = {"setup_s": 5.0, "wall_s": 9.0, "cpu_s": 20.0,
              "ops": [{"name": "q1", "s": 0.5, "error": None},
                      {"name": "q2", "s": 0.7, "error": {"class": "X", "message": "m"}},
                      {"name": "q3", "s": 0.9, "error": None},
                      {"name": "q1", "s": 0.4, "error": None}]}

    def test_failed_ops_and_wrong_outputs_count(self):
        r = metrics.summarize(self.RECORD, {"q1": "rows differ"})
        self.assertEqual((r["attempted"], r["failed"], r["correct"]), (4, 3, False))
        self.assertAlmostEqual(r["metrics"]["ok_ratio"]["value"], 0.25)
        self.assertAlmostEqual(r["metrics"]["op_p50_s"]["value"], 0.6)

    def test_whole_run_check(self):
        r = metrics.summarize(self.RECORD, {"*": "scored rows"})
        self.assertEqual(r["failed"], 4)


if __name__ == "__main__":
    unittest.main()
