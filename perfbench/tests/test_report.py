"""Tests of how a traced run's records become spans:
python3 -m unittest discover perfbench/tests"""

import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import report  # noqa: E402


def trigger(start, commit):
    return {"start": start, "commit": commit, "end_offset": 0, "rows": 1, "durations": {}}


class ProgressSpansTest(unittest.TestCase):
    def doc(self, progress):
        # traced 0..100 and 200..300; the harness timed one trigger at 250..280
        return {"trace": {"spans": [[1, 0, "streaming.trigger", 250, 280, 1]],
                          "jobs": [], "windows": [[0, 100], [200, 300]]},
                "progress": progress}

    def names(self, doc):
        return sorted((s["start"], s["name"]) for s in report._spans(doc))

    def test_progress_inside_a_traced_window_is_a_root(self):
        got = report._spans(self.doc([trigger(10, 40)]))
        added = [s for s in got if s["start"] == 10]
        self.assertEqual(len(added), 1)
        self.assertEqual((added[0]["parent"], added[0]["end"]), (0, 40))

    def test_progress_while_untraced_is_dropped(self):
        # a trigger between the windows ran with the listener detached
        self.assertEqual(self.names(self.doc([trigger(120, 150)])),
                         [(250, "streaming.trigger")])

    def test_progress_timed_by_the_harness_is_not_counted_twice(self):
        self.assertEqual(self.names(self.doc([trigger(252, 278), trigger(210, 230)])),
                         [(210, "streaming.trigger"), (250, "streaming.trigger")])


if __name__ == "__main__":
    unittest.main()
