"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s e2ebench -p 'test_*.py'
"""
import json
import math
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402


class TailPercentileTest(unittest.TestCase):
    def test_p99_needs_a_thousand_samples(self):
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(5000), 99.0)
        self.assertLess(stats.tail_percentile(999), 99.0)

    def test_highest_supported_percentile(self):
        self.assertAlmostEqual(stats.tail_percentile(400), 97.5)
        self.assertAlmostEqual(stats.tail_percentile(100), 90.0)
        self.assertAlmostEqual(stats.tail_percentile(20), 50.0)

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail_percentile(10))
        self.assertIsNone(stats.tail_percentile(0))

    def test_at_least_ten_samples_beyond(self):
        for n in range(11, 2500):
            p = stats.tail_percentile(n)
            rank = math.ceil(p / 100.0 * n)
            self.assertGreaterEqual(n - rank, 10, n)
            # and no higher percentile (up to p99) would still leave ten
            self.assertTrue(p == 99.0 or n - (rank + 1) < 10, n)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7], 99), 7)


class CheckpointJoinTest(unittest.TestCase):
    """file -> batch from sources/0/<batchId>, commit time from commits/<batchId>."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        ckpt = self.ckpt = self.tmp.name
        os.makedirs(os.path.join(ckpt, "sources", "0"))
        os.makedirs(os.path.join(ckpt, "commits"))

        def log(name, entries, mtime):
            path = os.path.join(ckpt, "sources", "0", name)
            with open(path, "w") as f:
                f.write("v1\n")
                for file, b in entries:
                    f.write(json.dumps({"path": f"file:///x/in/{file}", "timestamp": 1,
                                        "batchId": b}) + "\n")
            os.utime(path, (mtime, mtime))
        log("0", [("a.json", 0), ("b.json", 0)], 100.0)
        log("1", [("c.json", 1)], 101.0)
        # a compacted log repeats the earlier batches' entries
        log("2.compact", [("a.json", 0), ("b.json", 0), ("c.json", 1), ("d.json", 2)], 102.0)
        for b, t in ((0, 100.5), (2, 102.75)):  # batch 1 never committed
            path = os.path.join(ckpt, "commits", str(b))
            open(path, "w").close()
            os.utime(path, (t, t))
        with open(os.path.join(ckpt, "sources", "0", ".3.crc"), "w") as f:
            f.write("ignored")

    def tearDown(self):
        self.tmp.cleanup()

    def test_planned_batches(self):
        planned = stats.planned_batches(self.ckpt)
        self.assertEqual(planned["a.json"], (0, 100.0))
        self.assertEqual(planned["c.json"], (1, 101.0))
        self.assertEqual(planned["d.json"], (2, 102.0))

    def test_join(self):
        got = stats.join_files(self.ckpt, ["a.json", "b.json", "c.json", "d.json", "e.json"])
        self.assertEqual(got["a.json"], (0, 100.5))
        self.assertEqual(got["b.json"], (0, 100.5))
        self.assertIsNone(got["c.json"])  # planned, batch not committed
        self.assertEqual(got["d.json"], (2, 102.75))
        self.assertIsNone(got["e.json"])  # never planned

    def test_watcher_sees_the_same_files(self):
        w = gen.SourceLogWatcher(self.ckpt)
        self.assertEqual(w.poll(), {"a.json", "b.json", "c.json", "d.json"})

    def test_backlog(self):
        written = {"a": 1.0, "b": 2.0, "c": 3.0, "d": 4.0}
        planned = {"a": 2.5, "b": 2.5, "c": 3.0, "d": None}
        # at t=2: a and b wait; at t=3: c is planned as it is written; at t=4: d waits alone
        self.assertEqual(stats.backlog_max(written, planned), 2)


class Demo2ReferenceTest(unittest.TestCase):
    def test_hand_computed_windows(self):
        base = 1_700_000_040  # window [1_700_000_040, +60) starts here
        times = [base, base + 59, base + 60, base + 61, base + 10, base + 130, base + 5]
        users = [1, 1, 1, 2, 2, 1, 1]
        on_time = [True, True, True, True, True, True, False]  # the last one is too late
        got = stats.demo2_reference(times, users, on_time, watermark_s=base + 120)
        self.assertEqual(got, {(base, 1): 2, (base, 2): 1, (base + 60, 1): 1, (base + 60, 2): 1})

    def test_open_windows_are_not_emitted(self):
        base = 1_700_000_040
        got = stats.demo2_reference([base, base + 60], [1, 1], [True, True], watermark_s=base + 119)
        self.assertEqual(got, {(base, 1): 1})


class GeneratorTest(unittest.TestCase):
    SPEC = {"seed": 7, "users": 1000, "zipf": 1.1, "ev_step_s": 2, "jitter_s": 30,
            "late": 0.05, "malformed": 0.05}

    def test_same_seed_same_files(self):
        a, b = gen.Wire(self.SPEC), gen.Wire(self.SPEC)
        for i in range(5):
            ra, rb = a.rows(i, 500), b.rows(i, 500)
            self.assertEqual(ra[0], rb[0])
            for x, y in zip(ra[1:4], rb[1:4]):
                self.assertEqual(x.tolist(), y.tolist())

    def test_other_seed_other_files(self):
        a = gen.Wire(self.SPEC).rows(1, 500)[0]
        b = gen.Wire(dict(self.SPEC, seed=8)).rows(1, 500)[0]
        self.assertNotEqual(a, b)

    def test_record_matches_the_wire_text(self):
        text, t, u, on_time, bad = gen.Wire(self.SPEC).rows(3, 2000)
        lines = text.splitlines()
        parsed = []
        for line in lines:
            try:
                m = json.loads(line)
            except ValueError:
                continue
            if isinstance(m.get("event_time"), int):
                parsed.append((m["event_time"], m["user_id"]))
        self.assertEqual(len(lines) - len(parsed), bad)
        self.assertEqual(parsed, list(zip(t.tolist(), u.tolist())))
        self.assertGreater(bad, 0)
        self.assertGreater(int((~on_time).sum()), 0)

    def test_late_events_get_windows_of_their_own(self):
        w = gen.Wire(self.SPEC)
        late = []
        for i in range(1, 6):
            _, t, _, on_time, _ = w.rows(i, 1000)
            late += (t[~on_time] // 60).tolist()
        self.assertEqual(len(late), len(set(late)))
        self.assertTrue(all(x * 60 < gen.E0 - 86400 for x in late))


class BenchmarkFileTest(unittest.TestCase):
    def test_per_layer_metrics_match_the_traced_output(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         list(layers.METRICS.items()))

    def test_union_and_self_time(self):
        self.assertEqual(layers.union_ms([(0, 4), (2, 6), (8, 9)], 1, 10), 6)
        spans = [{"id": 1, "parent": 0, "layer": "query", "start": 0, "end": 10},
                 {"id": 2, "parent": 1, "layer": "job", "start": 2, "end": 5},
                 {"id": 3, "parent": 1, "layer": "job", "start": 4, "end": 7}]
        got = layers.self_times(spans)
        self.assertEqual(got["query"], (1, 10, 5))
        self.assertEqual(got["job"], (2, 6, 6))


if __name__ == "__main__":
    unittest.main()
