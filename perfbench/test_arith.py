"""Self-test of the harness arithmetic on synthetic spans.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import arith


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "start": start, "end": end}


# run 0..100 > pass 0..100 > call:a 10..40 (build 10..30, drain 30..40),
#                            call:b 50..90
SPANS = [
    span(0, -1, "run", 0, 100),
    span(1, 0, "pass:warm", 0, 100),
    span(2, 1, "call:a", 10, 40),
    span(3, 2, "build", 10, 30),
    span(4, 2, "drain", 30, 40),
    span(5, 1, "call:b", 50, 90),
]


class Attribution(unittest.TestCase):
    def setUp(self):
        self.at = arith.Attributor(SPANS)

    def test_innermost_span_takes_the_job(self):
        self.assertEqual(self.at(12), 3)  # inside build, inside call:a
        self.assertEqual(self.at(60), 5)

    def test_boundary_goes_to_the_later_sibling(self):
        self.assertEqual(self.at(30), 4)  # build ends and drain starts at 30

    def test_gaps_fall_to_the_parent_and_outside_to_none(self):
        self.assertEqual(self.at(45), 1)  # between the calls: the pass
        self.assertIsNone(self.at(150))

    def test_events_of_untraced_passes_reach_no_pass(self):
        # an untraced pass 100..200 opens no span: its jobs and plannings
        # fall to the run span, which no pass span contains
        spans = [span(0, -1, "run", 0, 300), *SPANS[1:]]
        at = arith.Attributor(spans)
        self.assertEqual(at(150), 0)
        self.assertFalse(any(spans[i]["name"].startswith("pass:")
                             for i in arith.ancestors(spans)[at(150)]))

    def test_ancestors_lead_from_a_job_to_its_call(self):
        chain = arith.ancestors(SPANS)
        self.assertEqual(chain[3], [3, 2, 1, 0])
        self.assertEqual(arith.depths(SPANS), {0: 0, 1: 1, 2: 2, 3: 3, 4: 3, 5: 2})


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        build = SPANS[3]  # 10..30
        self.assertEqual(arith.self_ms(build, [(12, 20), (15, 25)]), 20 - 13)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(arith.self_ms(SPANS[3], [(0, 15), (28, 50)]), 20 - 5 - 2)

    def test_call_minus_build_and_drain(self):
        call = SPANS[2]
        self.assertEqual(arith.self_ms(call, [(10, 30), (30, 40)]), 0)
        self.assertEqual(arith.self_ms(SPANS[1], [(10, 40), (50, 90)]), 100 - 70)

    def test_union(self):
        self.assertEqual(arith.union_ms([], 0, 10), 0)
        self.assertEqual(arith.union_ms([(5, 3)], 0, 10), 0)
        self.assertEqual(arith.union_ms([(1, 2), (2, 3), (5, 9), (6, 7)], 0, 10), 6)


class Ratios(unittest.TestCase):
    def test_busy_frac(self):
        self.assertEqual(arith.busy_frac(8.0, 4.0, 4), 0.5)
        self.assertEqual(arith.busy_frac(1.0, 0.0, 4), 0.0)

    def test_median(self):
        self.assertEqual(arith.median([]), 0.0)
        self.assertEqual(arith.median([3, 1, 2]), 2)


if __name__ == "__main__":
    unittest.main()
