import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from graftbench import spans  # noqa: E402

MS = 1_000_000


def span(i, kind, start, end, parent=0, **attrs):
    return {"id": i, "parent": parent, "kind": kind, "name": f"{kind}{i}",
            "start": start * MS, "end": end * MS, "attrs": attrs}


class SpanTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(spans.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(spans.union_length([(0, 10), (5, 15)], 8, 12), 4)
        self.assertEqual(spans.union_length([]), 0)
        self.assertEqual(spans.union_length([(0, 5), (5, 10)]), 10)

    def test_self_time_is_duration_minus_union_of_children(self):
        parent = span(1, "op", 0, 100)
        children = [span(2, "exec", 10, 40, 1), span(3, "exec", 30, 60, 1),
                    span(4, "commit", 90, 120, 1)]
        # children cover 10..60 and 90..100 of the parent: 60 ms
        self.assertEqual(spans.self_time(parent, children), 40 * MS)
        self.assertEqual(spans.self_time(parent, []), 100 * MS)

    def test_link_parents_by_containment_and_ids(self):
        ss = [span(1, "pass", 0, 1000), span(2, "op", 10, 500, 1),
              span(3, "query_build", 20, 100, 2),
              span(4, "exec", 150, 400, execution_id=7),
              span(5, "job", 160, 390, execution_id=7, job_id=3),
              span(6, "stage", 170, 380, job_id=3)]
        children = spans.link(ss)
        self.assertEqual(ss[3]["parent"], 2)  # innermost driver span: the op
        self.assertEqual(ss[4]["parent"], 4)  # job -> its execution
        self.assertEqual(ss[5]["parent"], 5)  # stage -> its job
        self.assertEqual({s["id"] for s in spans.descendants(2, children)}, {3, 4, 5, 6})


if __name__ == "__main__":
    unittest.main()
