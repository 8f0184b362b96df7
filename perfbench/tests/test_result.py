"""The result line reacts to a failed check: the operation is counted in
`failed`, `correct` turns false, and the end-to-end metrics leave out the
operation's items and time.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402


def op(i, ms):
    return {"i": i, "name": "batch", "ok": True, "err": "", "ms": ms, "items": 10, "info": {}}


class ResultLine(unittest.TestCase):
    def setUp(self):
        self.run = {"ops": [op(0, 10.0), op(1, 20.0), op(2, 30.0), op(3, 900.0)],
                    "timed_s": 2.0, "setup_ms": 1500.0}

    def line(self, fails):
        return run.result(self.run, fails, run.end_to_end(self.run, fails))

    def test_all_passed(self):
        r = self.line({})
        self.assertEqual((r["correct"], r["attempted"], r["failed"]), (True, 4, 0))
        m = r["metrics"]
        self.assertEqual(m["throughput_per_s"]["value"], 20.0)
        self.assertEqual(m["latency_p50_ms"]["value"], 25.0)
        self.assertEqual(m["latency_tail_ms"]["value"], 30.0)
        self.assertEqual(m["setup_s"]["value"], 1.5)

    def test_corrupted_op(self):
        r = self.line({3: "stored 9 rows, want 10"})
        self.assertEqual((r["correct"], r["attempted"], r["failed"]), (False, 4, 1))
        m = r["metrics"]
        self.assertEqual(m["throughput_per_s"]["value"], 15.0)
        self.assertEqual(m["latency_p50_ms"]["value"], 20.0)
        self.assertEqual(m["latency_tail_ms"]["value"], 30.0)


if __name__ == "__main__":
    unittest.main()
