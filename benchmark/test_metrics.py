"""Tests of the benchmark's own arithmetic.

Run: python3 -m unittest discover -s benchmark -p 'test_*.py'
"""
import math
import unittest

import layers
import metrics


def open_loop(due, service):
    """Start and done times of batches run one at a time, as the stream
    harness schedules them: batch k starts at max(due[k], done[k-1])."""
    starts, dones, prev = [], [], -math.inf
    for d, s in zip(due, service):
        start = max(d, prev)
        prev = start + s
        starts.append(start)
        dones.append(prev)
    return starts, dones


class TailPercentile(unittest.TestCase):
    def test_one_warm_pass_of_36_queries_is_p72(self):
        p, value, n = metrics.tail_percentile([float(i) for i in range(1, 37)])
        self.assertEqual((p, value, n), (72, 26.0, 36))
        self.assertEqual(sum(1 for v in range(1, 37) if v > value), 10)

    def test_three_passes_reach_p90(self):
        p, value, n = metrics.tail_percentile(list(range(108)))
        self.assertEqual((p, n), (90, 108))
        self.assertGreaterEqual(sum(1 for v in range(108) if v > value), 10)

    def test_highest_percentile_is_chosen(self):
        values = list(range(100))
        p, value, _ = metrics.tail_percentile(values)
        above = sum(1 for v in values if v > value)
        self.assertGreaterEqual(above, 10)
        q = metrics.percentile(values, p + 1)
        self.assertLess(sum(1 for v in values if v > q), 10)

    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail_percentile(list(range(19))))
        self.assertEqual(metrics.tail_percentile(list(range(20)))[0], 50)


class OpenLoop(unittest.TestCase):
    def test_a_stall_delays_every_later_batch(self):
        interval, rows = 2.0, 4
        due = [0.0, 2.0, 4.0, 6.0, 8.0]
        _, smooth = open_loop(due, [1.0] * 5)
        starts, stalled = open_loop(due, [1.0, 1.0, 10.0, 1.0, 1.0])
        self.assertEqual(starts, [0.0, 2.0, 4.0, 14.0, 15.0])
        self.assertEqual(stalled, [1.0, 3.0, 14.0, 15.0, 16.0])
        before = metrics.emit_latencies(due, smooth, interval, rows)
        after = metrics.emit_latencies(due, stalled, interval, rows)
        for k in range(5):
            b, a = before[k * rows:(k + 1) * rows], after[k * rows:(k + 1) * rows]
            if k < 2:
                self.assertEqual(a, b)
            else:
                self.assertTrue(all(x > y for x, y in zip(a, b)), k)
        self.assertGreater(metrics.percentile(after, 99), metrics.percentile(before, 99))

    def test_latency_counts_from_creation_not_from_start(self):
        lat = metrics.emit_latencies([10.0], [13.0], 10.0, 2)
        self.assertEqual(lat, [10.5, 5.5])


class SelfTime(unittest.TestCase):
    # parent [0,10]; two overlapping children [1,5] and [3,7]; a
    # grandchild [4,6] inside the second child
    SPANS = {
        "p": dict(parent=None, start=0.0, end=10.0, layer="driver"),
        "a": dict(parent="p", start=1.0, end=5.0, layer="scheduler"),
        "b": dict(parent="p", start=3.0, end=7.0, layer="scheduler"),
        "g": dict(parent="b", start=4.0, end=6.0, layer="functions"),
    }

    def test_self_time_subtracts_the_union_of_children(self):
        s = metrics.self_times(self.SPANS)
        self.assertEqual(s["p"], 4.0)   # 10 - |[1,7]|, not 10 - (4 + 4)
        self.assertEqual(s["a"], 4.0)
        self.assertEqual(s["b"], 2.0)
        self.assertEqual(s["g"], 2.0)

    def test_children_are_clipped_to_the_parent(self):
        s = metrics.self_times({
            "p": dict(parent=None, start=0.0, end=4.0),
            "c": dict(parent="p", start=3.0, end=9.0)})
        self.assertEqual(s, {"p": 3.0, "c": 1.0})

    def test_layer_times_share_overlap_and_sum_to_the_wall(self):
        t = metrics.layer_times(self.SPANS)
        self.assertAlmostEqual(sum(t.values()), 10.0)
        self.assertAlmostEqual(t["driver"], 4.0)
        # [1,3] a alone; [3,4] a,b; [4,5] a,g; [5,6] g; [6,7] b
        self.assertAlmostEqual(t["scheduler"], 2.0 + 1.0 + 0.5 + 1.0)
        self.assertAlmostEqual(t["functions"], 0.5 + 1.0)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(1, 5), (3, 7), (9, 12)], 0, 10), 7)


class PhaseTime(unittest.TestCase):
    # one query: construct [0,40] then action [40,100]; an analysis
    # phase [10,30] in construct, a second query's analysis [15,25]
    # inside it, and the write command's analysis [40,45] in the action
    TRACE = {
        "spans": [
            dict(id=0, parent=-1, kind="run", name="warm", start=0.0, end=100.0),
            dict(id=1, parent=0, kind="query", name="q", start=0.0, end=100.0),
            dict(id=2, parent=1, kind="construct", name="q", start=0.0, end=40.0),
            dict(id=3, parent=1, kind="action", name="q", start=40.0, end=100.0),
        ],
        "spark": {"phases": [
            dict(phase="analysis", start=10.0, end=30.0),
            dict(phase="analysis", start=15.0, end=25.0),
            dict(phase="analysis", start=40.0, end=45.0),
            dict(phase="optimization", start=45.0, end=50.0),
        ]},
    }

    def test_a_phase_inside_another_counts_once(self):
        nodes = layers.build_tree(self.TRACE)
        self.assertAlmostEqual(layers.phase_s(nodes, "analysis"), (20.0 + 5.0) / 1000.0)
        self.assertAlmostEqual(layers.phase_s(nodes, "optimization"), 5.0 / 1000.0)
        self.assertEqual(layers.phase_s(nodes, "planning"), 0.0)

    def test_phases_hang_under_the_span_that_ran_them(self):
        nodes = layers.build_tree(self.TRACE)
        parents = sorted(nodes[n["parent"]]["kind"] for n in nodes.values()
                         if n["kind"] == "phase")
        self.assertEqual(parents, ["action", "action", "construct", "construct"])


if __name__ == "__main__":
    unittest.main()
