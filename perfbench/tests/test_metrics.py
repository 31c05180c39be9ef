import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
import perf_diff  # noqa: E402

S = 1_000_000  # microseconds per second


def record(spans, jobs=(), phases=(), tasks=(), jvm_start=0):
    return metrics.Record({"spans": [list(s) for s in spans], "jobs": [list(j) for j in jobs],
                           "phases": [list(p) for p in phases], "tasks": [list(t) for t in tasks],
                           "jvm_start_us": jvm_start, "peak_heap_mb": 100.0, "pins": []})


class PercentileTest(unittest.TestCase):
    def test_tail_leaves_ten_samples_beyond(self):
        xs = list(range(1, 37))  # 36 samples
        value, pct, n = metrics.tail(xs)
        self.assertEqual(n, 36)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 100 * 26 / 36)

    def test_tail_of_exactly_eleven_is_the_minimum(self):
        self.assertEqual(metrics.tail(list(range(11)))[0], 0)

    def test_tail_without_enough_samples_is_the_maximum(self):
        self.assertEqual(metrics.tail([3, 1, 2]), (3, 100.0, 3))

    def test_spread_is_quartile_distance_over_median(self):
        xs = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
        q1, _, q3 = metrics.statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(metrics.spread(xs), (q3 - q1) / 5.5)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.union_len([(0, 4), (2, 6), (8, 10)]), 8)
        self.assertEqual(metrics.union_len([(0, 4), (2, 6), (8, 10)], 3, 9), 4)
        self.assertEqual(metrics.union_len([]), 0)


class RecordTest(unittest.TestCase):
    def setUp(self):
        # setup.1..3 (1, 3 and 2 s), then pass.1 with one op: construct 2 s
        # (a 1 s job inside), noop 3 s (0.5 s planning, 2 s job), count 1 s
        self.rec = record(
            spans=[(1, 0, "setup.1", 1 * S, 2 * S), (2, 0, "setup.2", 2 * S, 5 * S),
                   (3, 0, "setup.3", 5 * S, 7 * S), (4, 0, "pass.1", 10 * S, 17 * S),
                   (5, 4, "op.q", 10 * S, 16 * S), (6, 5, "construct", 10 * S, 12 * S),
                   (7, 5, "noop", 12 * S, 15 * S), (8, 5, "count", 15 * S, 16 * S)],
            jobs=[(0, 6, 10.5 * S, 11.5 * S), (1, 7, 13 * S, 15 * S)],
            phases=[("analysis", 12 * S, 12.5 * S)],
            tasks=[(6, 4, 2000, 10, 0, 0, 0, 0), (7, 8, 6000, 20, 1048576, 0, 0, 0)])

    def test_setup_counts_repeated_setups_once_at_their_median(self):
        # 10 s to the first pass, 6 s of set-ups replaced by their median 2 s
        self.assertAlmostEqual(metrics.setup_seconds(self.rec), 6.0)

    def test_end_to_end_splits_full_output_and_count(self):
        e2e, notes = metrics.end_to_end(self.rec, "queries")
        self.assertAlmostEqual(e2e["wall_s"], 5.0)
        self.assertAlmostEqual(e2e["count_s"], 1.0)
        self.assertEqual(notes["op_samples"], 1)

    def test_medallion_count_sums_per_query_medians(self):
        rec = record(spans=[(1, 0, "pass.1", 0, 20 * S)]
                     + [(2 + i, 1, "count.a", i * S, (i + d) * S) for i, d in enumerate([1, 2, 9])]
                     + [(5, 1, "count.b", 12 * S, 15 * S)])
        self.assertAlmostEqual(metrics.pass_count(rec, 1, "medallion"), 2.0 + 3.0)

    def test_layer_split_partitions_the_pass(self):
        split = metrics.layer_split(self.rec, 4)
        self.assertAlmostEqual(sum(split.values()), 7.0)
        self.assertAlmostEqual(split["plan"], 0.5)
        self.assertAlmostEqual(split["spark"], 3.0)
        self.assertAlmostEqual(split["construct"], 1.0)
        self.assertAlmostEqual(split["action"], 1.5)  # noop 0.5 + count 1
        self.assertAlmostEqual(split["harness"], 1.0)  # pass tail after the op

    def test_per_layer_counts_jobs_tasks_and_idle_cores(self):
        m = metrics.per_layer(self.rec, "queries", cores=4, sizes={})
        self.assertEqual(m["jobs"], 2)
        self.assertEqual(m["construct_jobs"], 1)
        self.assertEqual(m["tasks"], 12)
        self.assertAlmostEqual(m["task_s"], 8.0)
        self.assertAlmostEqual(m["action_s"], 3.0)
        self.assertAlmostEqual(m["idle_core_s"], 4 * 3.0 - 8.0)
        self.assertAlmostEqual(m["core_util"], 8.0 / 12.0)
        self.assertAlmostEqual(m["shuffle_write_mb"], 1.0)
        self.assertAlmostEqual(m["construct_share"], 2.0 / 5.0)


class VerdictTest(unittest.TestCase):
    parent = {s: 10.0 + 0.1 * (s % 3) for s in range(10)}

    def test_within_bound_is_unchanged(self):
        change = {s: v * 1.03 for s, v in self.parent.items()}
        self.assertEqual(perf_diff.verdict(self.parent, change, "lower", 0.1)[0], "unchanged")

    def test_beyond_bound_is_regressed(self):
        change = {s: v * 1.3 for s, v in self.parent.items()}
        self.assertEqual(perf_diff.verdict(self.parent, change, "lower", 0.1)[0], "regressed")

    def test_consistent_win_beyond_spread_is_improved(self):
        change = {s: v * 0.8 for s, v in self.parent.items()}
        v, share = perf_diff.verdict(self.parent, change, "lower", 0.1)
        self.assertEqual((v, share), ("improved", 1.0))

    def test_higher_is_better_flips_the_sign(self):
        change = {s: v * 1.3 for s, v in self.parent.items()}
        self.assertEqual(perf_diff.verdict(self.parent, change, "higher", 0.1)[0], "improved")

    def test_wide_parent_spread_is_unresolved(self):
        noisy = {s: 10.0 * (1 + (s % 4)) for s in range(10)}
        change = {s: v * 1.01 for s, v in noisy.items()}
        self.assertEqual(perf_diff.verdict(noisy, change, "lower", 0.1)[0], "unresolved")

    def test_unbounded_metric_has_no_verdict(self):
        self.assertEqual(perf_diff.verdict(self.parent, self.parent, "lower", None)[0], "-")


if __name__ == "__main__":
    unittest.main()
