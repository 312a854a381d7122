"""Self-time arithmetic of traced runs.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import spans  # noqa: E402

ZERO = {c: 0.0 for c in spans.COUNTS + ["input_mb"]}


def span(id, name, layer, parent, start, end, op="day-0", **counts):
    c = dict(ZERO)
    c.update(counts)
    return {"id": id, "name": name, "layer": layer, "parent": parent, "op": op,
            "start_ms": start, "end_ms": end, "counts": c}


class CoveredTest(unittest.TestCase):
    def test_disjoint_intervals_add(self):
        self.assertEqual(spans.covered_ms(0, 100, [(10, 20), (30, 50)]), 30)

    def test_overlapping_intervals_count_once(self):
        self.assertEqual(spans.covered_ms(0, 100, [(10, 40), (30, 50), (45, 60)]), 50)

    def test_intervals_are_clipped_to_the_parent(self):
        self.assertEqual(spans.covered_ms(10, 20, [(0, 15), (18, 30)]), 7)

    def test_nothing_covered(self):
        self.assertEqual(spans.covered_ms(0, 10, []), 0)
        self.assertEqual(spans.covered_ms(0, 10, [(20, 30)]), 0)


class SelfTimeTest(unittest.TestCase):
    def setUp(self):
        # day 0..100: pipeline 5..95 holds aux 10..30 and fact 30..80;
        # fact holds nothing, so its self time is its duration
        self.spans = [
            span(0, "day", "bench", -1, 0, 100),
            span(1, "pipeline.run", "pipeline", 0, 5, 95),
            span(2, "model.aux_dims", "model", 1, 10, 30, jobs=3),
            span(3, "model.reviews_fact", "model", 1, 30, 80, jobs=2, input_mb=4.0),
        ]

    def test_self_time_is_duration_minus_children(self):
        st = spans.self_times_ms(self.spans)
        self.assertEqual(st, {0: 10, 1: 20, 2: 20, 3: 50})

    def test_self_times_account_for_the_root(self):
        st = spans.self_times_ms(self.spans)
        self.assertAlmostEqual(sum(st.values()), 100)

    def test_layer_metrics(self):
        m = spans.layer_metrics(self.spans)
        self.assertAlmostEqual(m["pipeline.self_s"], 0.020)
        self.assertAlmostEqual(m["model.self_s"], 0.070)
        self.assertAlmostEqual(m["model.reviews_fact_s"], 0.050)
        self.assertAlmostEqual(m["model.input_mb"], 4.0)
        self.assertEqual(m["spark.jobs_per_op"], 5)
        self.assertAlmostEqual(m["trace.unaccounted_share"], 0.1)
        self.assertAlmostEqual(m["trace.unaccounted_max_share"], 0.1)
        self.assertEqual(m["trace.ops"], 1)
        # spans no operation opened read 0
        self.assertEqual(m["core.upsert_s"], 0.0)

    def test_medians_are_over_operations(self):
        more = [span(10, "day", "bench", -1, 200, 240, op="day-1"),
                span(11, "pipeline.run", "pipeline", 10, 200, 240, op="day-1")]
        m = spans.layer_metrics(self.spans + more)
        self.assertAlmostEqual(m["trace.unaccounted_max_share"], 0.1)
        self.assertAlmostEqual(m["trace.unaccounted_share"], 10 / 140)
        # the median of pipeline self time over day-0 (20 ms) and day-1 (40 ms)
        self.assertAlmostEqual(m["pipeline.self_s"], 0.030)


if __name__ == "__main__":
    unittest.main()
