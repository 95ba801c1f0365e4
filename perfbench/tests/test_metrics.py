"""Self-checks of the benchmark's own arithmetic.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import metrics  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        vals = [float(v) for v in range(1, 101)]
        self.assertEqual(metrics.tail(vals), (90.0, 90.0))  # p95 leaves only 5 beyond

    def test_small_sample_steps_down_the_ladder(self):
        vals = [float(v) for v in range(1, 37)]
        p, v = metrics.tail(vals)
        self.assertEqual(p, 70.0)
        self.assertEqual(sum(1 for x in vals if x > v), 10)

    def test_too_few_samples_fall_back_to_median(self):
        self.assertEqual(metrics.tail([5.0, 1.0, 3.0]), (50.0, 3.0))

    def test_groups_count_distinct_batches_not_samples(self):
        # 1000 events in 20 batches of 50: p99 leaves 10 events, but they all
        # sit in one batch, so the tail must step down to where at least ten
        # batches lie beyond.
        lat = [float(i) for i in range(1000)]
        grp = [i // 50 for i in range(1000)]
        p, v = metrics.tail(lat, grp)
        beyond = {g for x, g in zip(lat, grp) if x > v}
        self.assertGreaterEqual(len(beyond), 10)
        self.assertEqual(p, 50.0)
        self.assertEqual(metrics.tail(lat)[0], 99.0)


class OpenLoopLatency(unittest.TestCase):
    def test_latency_counts_from_the_schedule(self):
        # 1 event/ms; two batches of 10 received 5 ms after their last event
        lat, grp = metrics.open_loop_latencies(0.0, 1000.0, [(14.0, 10), (24.0, 10)])
        self.assertEqual(lat[0], 14.0)
        self.assertEqual(lat[9], 5.0)
        self.assertEqual(lat[10], 14.0)
        self.assertEqual(grp, [0] * 10 + [1] * 10)

    def test_stalled_batch_raises_every_event_due_during_the_stall(self):
        rate = 1000.0
        steady = [(10.0 * (b + 1) + 5.0, 10) for b in range(10)]
        base, _ = metrics.open_loop_latencies(0.0, rate, steady)
        # The engine stalls from t=30 to t=530: the batch that was due at
        # t=45 is received at t=545 and holds every event due in the stall.
        stalled = steady[:3] + [(545.0, 500)] + [(545.0 + 10.0 * (b + 1), 10) for b in range(3)]
        lat, _ = metrics.open_loop_latencies(0.0, rate, stalled)
        for i in range(30, 530):
            due = i * 1000.0 / rate
            self.assertAlmostEqual(lat[i], 545.0 - due)
            self.assertGreater(lat[i], max(base))
        self.assertEqual(lat[:30], base[:30])

    def test_generator_lag_and_backlog(self):
        chunks = [(1.0, 0, 1), (12.0, 1, 10)]  # the second chunk was handed over 2 ms late
        self.assertEqual(metrics.generator_lag(0.0, 1000.0, chunks), [1.0, 2.0])
        self.assertEqual(metrics.backlog_max(chunks, [(5.0, 1), (20.0, 10)]), 10)


class UnionGap(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        # Two overlapping jobs cover [0, 15] of a 20 ms span: a 5 ms gap,
        # where summing the job lengths would claim -10 ms.
        self.assertEqual(metrics.gap(0.0, 20.0, [(0.0, 15.0), (0.0, 15.0)]), 5.0)
        self.assertEqual(metrics.gap(0.0, 20.0, [(0.0, 10.0), (5.0, 15.0)]), 5.0)

    def test_disjoint_and_clipped_intervals(self):
        self.assertEqual(metrics.gap(10.0, 30.0, [(0.0, 12.0), (20.0, 25.0), (29.0, 40.0)]), 12.0)
        self.assertEqual(metrics.gap(0.0, 10.0, []), 10.0)

    def test_self_time(self):
        span = {"start": 0.0, "end": 100.0}
        kids = [{"start": 10.0, "end": 40.0}, {"start": 30.0, "end": 60.0}]
        self.assertEqual(metrics.self_time(span, kids), 50.0)


if __name__ == "__main__":
    unittest.main()
