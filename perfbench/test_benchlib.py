"""Unit tests of the benchmark's pure helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import tempfile
import unittest

import benchlib as bl
import run


def progress(batch, ts, trigger_ms, ends, rows):
    return {"batchId": batch, "timestamp": ts, "numInputRows": rows,
            "durationMs": {"triggerExecution": trigger_ms},
            "sources": [{"endOffset": {str(p): o for p, o in enumerate(ends)}}]}


class Statistics(unittest.TestCase):
    def test_percentile_interpolates(self):
        self.assertEqual(bl.percentile([3, 1, 2], 0.5), 2)
        self.assertEqual(bl.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(bl.percentile([5], 0.99), 5)
        self.assertAlmostEqual(bl.percentile(list(range(101)), 0.9), 90)
        with self.assertRaises(ValueError):
            bl.percentile([], 0.5)

    def test_weighted_percentile_counts_weights(self):
        pairs = [(10, 98), (500, 1), (900, 1)]
        self.assertEqual(bl.weighted_percentile(pairs, 0.5), 10)
        self.assertEqual(bl.weighted_percentile(pairs, 0.99), 500)
        self.assertEqual(bl.weighted_percentile(pairs, 1.0), 900)

    def test_slope(self):
        self.assertAlmostEqual(bl.slope([(0, 1), (1, 3), (2, 5)]), 2.0)
        self.assertEqual(bl.slope([(1, 5)]), 0.0)
        self.assertEqual(bl.slope([(1, 5), (1, 7)]), 0.0)


class OpenLoop(unittest.TestCase):
    # Two partitions; ticks every 10 ms from t=1_000_000 µs.
    ticks = [
        [1_000_000, 1_000_100, 4, [2, 2]],
        [1_010_000, 1_012_000, 4, [4, 4]],
        [1_020_000, 1_020_050, 0, [4, 4]],
        [1_030_000, 1_030_000, 4, [6, 6]],
    ]

    def test_lateness_is_start_minus_due_never_negative(self):
        t = self.ticks + [[1_040_000, 1_039_000, 1, [7, 6]]]
        self.assertEqual(bl.lateness_us(t), [100, 2000, 50, 0, 0])

    def test_tick_latency_runs_from_due_time_to_covering_commit(self):
        bs = [(1_015_000, {0: 2, 1: 2}, 4), (1_050_000, {0: 6, 1: 6}, 8)]
        lat = bl.tick_latencies(self.ticks, bs)
        self.assertEqual(lat, [(15_000, 4), (40_000, 4), (20_000, 4)])

    def test_after_warmup_drops_early_ticks(self):
        self.assertEqual(bl.after_warmup(self.ticks, 20_000), self.ticks[2:])
        self.assertEqual(bl.after_warmup([], 20_000), [])

    def test_uncovered_ticks_are_reported_missing(self):
        bs = [(1_015_000, {0: 2, 1: 2}, 4)]
        lat = bl.tick_latencies(self.ticks, bs)
        self.assertEqual(lat[1:], [(None, 4), (None, 4)])

    def test_batches_read_progress_reports(self):
        ps = [progress(1, "2026-01-01T00:00:01.500Z", 200, [4, 4], 8),
              progress(0, "2026-01-01T00:00:01.000Z", 100, [0, 0], 0),
              progress(2, "2026-01-01T00:00:02.000Z", 5, [4, 4], 0)]
        bs = bl.batches(ps)
        # Batches that read nothing commit nothing and are left out.
        self.assertEqual(bs, [(1_767_225_601_700_000, {0: 4, 1: 4}, 8)])

    def test_backlog_points_and_slope(self):
        ticks = [[t * 1_000_000, t * 1_000_000, 100, [100 * (t + 1)]] for t in range(5)]
        growing = [(t * 1_000_000 + 500_000, {0: 50 * (t + 1)}, 50) for t in range(4)]
        pts = bl.backlog_points(ticks, growing)
        self.assertEqual([b for _, b in pts], [50, 100, 150, 200])
        self.assertAlmostEqual(bl.slope(pts), 50.0)
        flat = [(t * 1_000_000 + 500_000, {0: 100 * (t + 1)}, 100) for t in range(4)]
        self.assertAlmostEqual(bl.slope(bl.backlog_points(ticks, flat)), 0.0)

    def test_sustained_rate_takes_highest_flat_rung_within_limit(self):
        rungs = [(20000, 0.0, 400.0), (60000, 100.0, 900.0), (150000, 40000.0, 800.0)]
        self.assertEqual(bl.sustained_rate(rungs, 1000.0, 0.05), 60000)
        # A rung over the latency limit does not count, even if flat.
        rungs[1] = (60000, 100.0, 1200.0)
        self.assertEqual(bl.sustained_rate(rungs, 1000.0, 0.05), 20000)
        self.assertEqual(bl.sustained_rate([(10, 5.0, None)], 1000.0, 0.05), 0)


class Correctness(unittest.TestCase):
    def test_fingerprint_ignores_row_and_column_order(self):
        a = bl.fingerprint([(1, "x", 0.5), (2, "y", 0.25)], ["id", "s", "v"])
        b = bl.fingerprint([("y", 0.25, 2), ("x", 0.5, 1)], ["s", "v", "id"])
        self.assertTrue(bl.same_result(a, b))
        self.assertEqual(a["rows"], 2)

    def test_fingerprint_sees_value_row_and_name_changes(self):
        base = bl.fingerprint([(1, 0.5)], ["id", "v"])
        self.assertFalse(bl.same_result(base, bl.fingerprint([(1, 0.5000001)], ["id", "v"])))
        self.assertFalse(bl.same_result(base, bl.fingerprint([(1, 0.5), (1, 0.5)], ["id", "v"])))
        self.assertFalse(bl.same_result(base, bl.fingerprint([(1, 0.5)], ["id", "w"])))

    def test_count_diff(self):
        self.assertEqual(bl.count_diff({"a": 3, "b": 1}, {"a": 3, "b": 1}), 0)
        self.assertEqual(bl.count_diff({"a": 3, "b": 1}, {"a": 2, "c": 4}), 6)

    def test_documents_are_seeded(self):
        a = bl.documents(7, 300)
        self.assertEqual(a, bl.documents(7, 300))
        self.assertNotEqual(a, bl.documents(8, 300))
        self.assertEqual([r[0] for r in a], list(range(300)))
        self.assertTrue(all(r[4] == len(r[1]) for r in a))

    def test_documents_near_duplicates_are_far_from_the_lsh_gap(self):
        def shingles(t):
            w = t.split(" ")
            return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
        docs = [shingles(r[1]) for r in bl.documents(3, 400)]
        for i in range(len(docs)):
            for j in range(i):
                jac = len(docs[i] & docs[j]) / len(docs[i] | docs[j])
                self.assertFalse(0.2 <= jac < 0.9, (i, j, jac))


class Output(unittest.TestCase):
    def test_render_line(self):
        line = bl.render_line(True, 10, 0, {"setup_s": (1.25, "s"), "op_p50_ms": (3.0, "ms")})
        self.assertNotIn("\n", line)
        obj = json.loads(line)
        self.assertEqual(set(obj), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(obj["metrics"]["setup_s"], {"value": 1.25, "unit": "s"})
        self.assertIs(obj["correct"], True)
        self.assertIsInstance(obj["attempted"], int)

    def test_benchmark_json_names_what_the_runner_prints(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], run.PER_LAYER)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))

    def test_trace_goes_to_its_side_file_only(self):
        raw = {"spans": [{"id": 0, "parent": -1, "name": "measure", "start_us": 0,
                          "end_us": 10_000_000, "attrs": {}}],
               "capacity": {"progress": [progress(0, "1970-01-01T00:00:01.000Z", 2000, [5], 5)]}}
        gen = [("append", 500_000, 600_000, {"n": 1})]

        class Args:
            workload, seed = "wc_open", 1
        with tempfile.TemporaryDirectory() as d:
            old, run.WORK = run.WORK, d
            out = io.StringIO()
            try:
                with contextlib.redirect_stdout(out):
                    n = run.write_trace(Args, raw, gen)
            finally:
                run.WORK = old
            self.assertEqual(out.getvalue(), "")
            self.assertEqual(n, 3)
            with open(os.path.join(d, "trace-wc_open-1.json")) as fh:
                trace = json.load(fh)
        trigger = trace["spans"][1]
        self.assertEqual(trigger["parent"], 0)
        # measure's self time excludes the 2 s trigger it contains.
        self.assertEqual(trace["self_us"]["measure"], 8_000_000)
        self.assertEqual(trace["self_us"]["trigger"], 2_000_000)


class Spans(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(bl.union_length([]), 0)
        self.assertEqual(bl.union_length([(0, 5), (3, 8), (10, 12)]), 10)

    def test_self_time_subtracts_overlapping_children_once(self):
        spans = [{"id": 0, "parent": -1, "name": "q", "start_us": 0, "end_us": 100},
                 {"id": 1, "parent": 0, "name": "c", "start_us": 10, "end_us": 50},
                 {"id": 2, "parent": 0, "name": "c", "start_us": 40, "end_us": 60},
                 {"id": 3, "parent": 0, "name": "c", "start_us": 90, "end_us": 130}]
        self_us = bl.self_times(spans)
        self.assertEqual(self_us["q"], 100 - 50 - 10)
        self.assertEqual(self_us["c"], 40 + 20 + 40)

    def test_attach_orphans_picks_innermost_container(self):
        spans = [{"id": 0, "parent": -1, "name": "a", "start_us": 0, "end_us": 100},
                 {"id": 1, "parent": 0, "name": "b", "start_us": 10, "end_us": 60},
                 {"id": 2, "parent": None, "name": "t", "start_us": 20, "end_us": 30},
                 {"id": 3, "parent": None, "name": "t", "start_us": 70, "end_us": 80},
                 {"id": 4, "parent": None, "name": "t", "start_us": 90, "end_us": 200}]
        bl.attach_orphans(spans)
        self.assertEqual([s["parent"] for s in spans[2:]], [1, 0, -1])


if __name__ == "__main__":
    unittest.main()
