"""Self time and tracing overhead on a hand-made span file.

Run: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import spans  # noqa: E402


def span(id, name, layer, start, end, parent=None, query=None):
    return {"id": id, "name": name, "layer": layer, "start": start,
            "end": end, "parent": parent, "query": query}


# A first warm pass of 30 s (warm-up, left out of the overhead), an
# untraced pass of 10 s, then a traced pass of 11 s whose two queries
# ran Spark jobs: q1 [0, 4] with jobs [1, 2] and [1.5, 3] (overlapping,
# so 2 s covered), q2 [4, 11] with job [5, 9].
SPANS = [
    span(10, "warm", "harness", 0.0, 30.0),
    span(1, "warm", "harness", 100.0, 110.0),
    span(2, "q1", "operators", 100.0, 104.0, 1, "q1"),
    span(3, "q2", "text", 104.0, 110.0, 1, "q2"),
    span(4, "warm.traced", "harness", 200.0, 211.0),
    span(5, "q1", "operators", 200.0, 204.0, 4, "q1"),
    span(6, "job 0", "spark", 201.0, 202.0, 5, "q1"),
    span(7, "job 1", "spark", 201.5, 203.0, 5, "q1"),
    span(8, "q2", "text", 204.0, 211.0, 4, "q2"),
    span(9, "job 2", "spark", 205.0, 209.0, 8, "q2"),
]


class SpansTest(unittest.TestCase):
    def setUp(self):
        fd, self.path = tempfile.mkstemp(suffix=".jsonl")
        with os.fdopen(fd, "w") as f:
            f.write("".join(json.dumps(s) + "\n" for s in SPANS))
        self.spans = spans.load(self.path)

    def tearDown(self):
        os.remove(self.path)

    def test_covered_merges_overlaps_and_clips(self):
        self.assertAlmostEqual(spans.covered([(1, 2), (1.5, 3)], 0, 4), 2.0)
        self.assertAlmostEqual(spans.covered([(-1, 5)], 0, 4), 4.0)
        self.assertAlmostEqual(spans.covered([], 0, 4), 0.0)

    def test_self_time_of_traced_pass(self):
        got = spans.self_times(self.spans, spans.TRACED_PASS)
        self.assertAlmostEqual(got["operators"], 4.0 - 2.0)
        self.assertAlmostEqual(got["text"], 7.0 - 4.0)
        self.assertAlmostEqual(got["spark"], 1.0 + 1.5 + 4.0)
        self.assertAlmostEqual(got["harness"], 0.0)

    def test_self_time_of_all_spans(self):
        got = spans.self_times(self.spans)
        self.assertAlmostEqual(got["operators"], 4.0 + 2.0)
        self.assertAlmostEqual(got["text"], 6.0 + 3.0)
        self.assertAlmostEqual(got["harness"], 30.0)

    def test_job_seconds(self):
        self.assertAlmostEqual(spans.job_seconds(self.spans), 2.0 + 4.0)

    def test_overhead(self):
        self.assertAlmostEqual(spans.overhead(self.spans), 11.0 / 10.0 - 1.0)

    def test_overhead_needs_both_kinds(self):
        self.assertIsNone(spans.overhead(self.spans[:4]))


if __name__ == "__main__":
    unittest.main()
