"""Unit checks of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


def span(i, parent, kind, start, end, name="q", **attrs):
    return {"id": i, "parent": parent, "trace": "t", "kind": kind, "name": name,
            "start_us": start, "end_us": end, "attrs": attrs}


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 31))  # 30 samples
        v, pct = metrics.tail(xs)
        self.assertEqual(v, 20)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(pct, 100 * 20 / 30)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail([5, 1, 4, 2, 3] * 3)[0],
                         metrics.tail(sorted([5, 1, 4, 2, 3] * 3))[0])

    def test_eleven_samples_is_the_minimum(self):
        self.assertEqual(metrics.tail(range(11)), (0, 100 / 11))
        self.assertEqual(metrics.tail(range(10)), (None, None))

    def test_more_samples_move_the_percentile_up(self):
        self.assertLess(metrics.tail(range(20))[1], metrics.tail(range(200))[1])


class IntervalUnion(unittest.TestCase):
    def test_disjoint(self):
        self.assertEqual(metrics.union_length([(0, 2), (5, 6)]), 3)

    def test_overlapping_and_nested(self):
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (8, 12), (20, 21)]), 13)

    def test_touching_and_unsorted(self):
        self.assertEqual(metrics.union_length([(4, 6), (0, 2), (2, 4)]), 6)

    def test_empty_and_degenerate(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(3, 3), (5, 4)]), 0)

    def test_clip(self):
        self.assertEqual(metrics.clip([(0, 5), (8, 20), (30, 40)], 3, 10), [(3, 5), (8, 10)])


class SelfTime(unittest.TestCase):
    def test_children_counted_once_and_clipped(self):
        spans = [
            span(1, 0, "rep", 0, 100),
            span(2, 1, "build", 0, 40),
            span(3, 1, "execute", 40, 100),
            span(4, 3, "job", 50, 80),
            span(5, 3, "job", 60, 90),        # overlaps job 4
            span(6, 4, "stage", 55, 85),      # runs past its job's end
        ]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 0)            # build + execute cover the rep
        self.assertEqual(st[2], 40)           # no children
        self.assertEqual(st[3], 60 - 40)      # jobs cover 50..90 once
        self.assertEqual(st[4], 30 - 25)      # stage clipped to 55..80
        self.assertEqual(st[6], 30)

    def test_layer_totals(self):
        spans = [span(9, 0, "pass", 0, 500),  # also holds untraced reps: not a layer
                 span(1, 9, "rep", 0, 100), span(2, 1, "build", 0, 30),
                 span(3, 1, "execute", 30, 100), span(4, 3, "stage", 40, 60)]
        by_layer = metrics.layer_self_ms(spans)
        self.assertEqual(set(by_layer), {"harness", "graft.queries",
                                         "spark driver (execute)", "executors"})
        self.assertAlmostEqual(by_layer["harness"], 0.0)
        self.assertAlmostEqual(by_layer["graft.queries"], 0.030)
        self.assertAlmostEqual(by_layer["executors"], 0.020)


class PassFigures(unittest.TestCase):
    def rep(self, q, wall_s, traced=False):
        return {"query": q, "t0_us": 0, "t2_us": int(wall_s * 1e6), "traced": traced,
                "dimcache_computes": 0}

    def test_pass_is_sum_of_medians(self):
        reps = [self.rep("a", 1), self.rep("a", 3), self.rep("a", 2), self.rep("b", 5)]
        self.assertAlmostEqual(metrics.pass_seconds(reps), 2 + 5)

    def test_per_pass_means_then_sums(self):
        self.assertEqual(metrics.per_pass({"a": [2, 4], "b": [1]}), 3 + 1)

    def test_gap_excludes_planning_and_stage_union(self):
        spans = [
            span(1, 0, "rep", 0, 10_000, name="a", jvm_gc_ms=0, heap_after_gc_mb=1),
            span(2, 1, "build", 0, 1_000, name="a"),
            span(3, 1, "execute", 1_000, 10_000, name="a"),
            span(4, 3, "phase", 1_000, 2_000, name="planning"),
            span(5, 3, "job", 2_500, 9_000),
            span(6, 5, "stage", 3_000, 6_000, tasks=4, task_run_ms=8),
            span(7, 5, "stage", 5_000, 8_000, tasks=2, task_run_ms=4),
        ]
        record = {"resolve_ms": {"lineitem": 5.0},
                  "reps": [self.rep("a", 0.01, traced=True)]}
        m = metrics.per_layer(record, spans, cores=2)
        # execute 9 ms - planning 1 ms - stages cover 3..8 ms once = 3 ms
        self.assertAlmostEqual(m["sched.gap_ms"], 3.0)
        self.assertAlmostEqual(m["exec.stage_wall_ms"], 5.0)
        self.assertAlmostEqual(m["exec.core_util"], 12 / (5.0 * 2))
        self.assertEqual(m["sched.tasks"], 6)
        self.assertEqual(m["sched.stages"], 2)
        self.assertAlmostEqual(m["plan.planning_ms"], 1.0)
        self.assertEqual(m["registry.resolve_cold_ms"], 5.0)

    def test_wall_shares_per_query_and_pass(self):
        spans = []
        for i, (q, wall, stage) in enumerate([("a", 10_000, 4_000), ("a", 30_000, 8_000),
                                              ("b", 20_000, 15_000)]):
            base = 10 * i
            spans += [span(base + 1, 0, "rep", 0, wall, name=q),
                      span(base + 2, base + 1, "build", 0, 0, name=q),
                      span(base + 3, base + 1, "execute", 0, wall, name=q),
                      span(base + 4, base + 3, "job", 0, stage),
                      span(base + 5, base + 4, "stage", 0, stage, task_run_ms=stage / 500)]
        shares = metrics.wall_shares(metrics.rep_values(spans))
        self.assertAlmostEqual(shares["a"]["stage"], 6 / 20)   # mean 6 ms of mean 20 ms
        self.assertAlmostEqual(shares["a"]["gap"], 14 / 20)
        self.assertAlmostEqual(shares["b"]["cores"], 30 / 20)
        self.assertAlmostEqual(shares["TOTAL"]["stage"], (6 + 15) / (20 + 20))
        self.assertEqual(shares["TOTAL"]["build"], 0)
        self.assertEqual(metrics.wall_shares(metrics.rep_values([])), {})


if __name__ == "__main__":
    unittest.main()
