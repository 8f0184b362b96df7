"""Every checker accepts a correct result and rejects a corrupted one: a
dropped row, a perturbed value, a swapped order.

    python3 -m unittest discover -s perfbench/tests
"""
import copy
import hashlib
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402


def op(i, name="batch", **info):
    return {"i": i, "name": name, "ok": True, "err": "", "ms": 1.0, "items": 1, "info": info}


class LogStreamCheck(unittest.TestCase):
    def setUp(self):
        self.tallies = {
            "train_min": 0.01, "train_max": 2.0, "train_mean": 0.5,
            "pool": [{
                "valid": 3, "eligible": 2, "flagged": ["10.0.0.9"],
                "pairs": {"users|200": [2, 40], "|200": [1, 5]},
                # the eligible lines: two 'users' rows of 0.02 s each; the
                # endpoint-less row is stored but not eligible
                "sum_rt": 0.04, "sum_rt2": 2 * 0.02 ** 2,
            }],
        }
        self.ops = [op(0, pool=0, batch_ids=[7])]
        self.stored = {7: {"users|200": (2, 40), "|200": (1, 5)}}
        self.flagged = {7: {"10.0.0.9"}}
        self.preds = {7: (2, 0.02, 0.02, 0.0, 0.04)}

    def fails(self, stored=None, flagged=None, preds=None):
        return checks.check_log_stream(self.tallies, self.ops, stored or self.stored,
                                       flagged or self.flagged, preds or self.preds)

    def test_correct(self):
        self.assertEqual(self.fails(), {})

    def test_dropped_row(self):
        self.assertIn(0, self.fails(stored={7: {"users|200": (1, 20), "|200": (1, 5)}}))

    def test_perturbed_time_sum(self):
        self.assertIn(0, self.fails(stored={7: {"users|200": (2, 41), "|200": (1, 5)}}))

    def test_moved_row(self):
        self.assertIn(0, self.fails(stored={7: {"users|200": (1, 20), "users|500": (1, 20),
                                                "|200": (1, 5)}}))

    def test_flagged(self):
        self.assertIn(0, self.fails(flagged={7: {"10.0.0.9", "10.0.0.1"}}))
        self.assertIn(0, self.fails(flagged={8: {"10.0.0.9"}}))

    def test_predictions(self):
        self.assertIn(0, self.fails(preds={7: (1, 0.02, 0.02, 0.0, 0.02)}))      # dropped
        self.assertIn(0, self.fails(preds={7: (2, 0.02, 2.5, 0.0, 0.04)}))       # out of range
        self.assertIn(0, self.fails(preds={7: (2, 0.9, 0.9, 1.5, 0.04)}))        # RMSE too high
        self.assertIn(0, self.fails(preds={7: (2, 0.02, 0.02, 0.0, 0.05)}))      # other actuals

    def test_split_micro_batch(self):
        self.ops = [op(0, pool=0, batch_ids=[7, 8])]
        self.assertIn(0, self.fails())


class QueryCheck(unittest.TestCase):
    def setUp(self):
        rows = checks.canon([(1, "a", 0.5), (2, "b", 1.25)])
        self.expected = {"q": (["k", "s", "x"], rows)}
        self.got = {"q": (["k", "s", "x"], list(rows))}
        self.ops = [op(0, "q", hash=11), op(1, "q", hash=11)]
        self.first = {"q": 11}

    def fails(self, got=None, ops=None):
        return checks.check_queries(ops or self.ops, self.first, self.expected, got or self.got)

    def test_correct(self):
        self.assertEqual(self.fails(), {})

    def test_dropped_row(self):
        cols, rows = self.got["q"]
        self.assertEqual(set(self.fails(got={"q": (cols, rows[:1])})), {0, 1})

    def test_perturbed_value(self):
        cols, rows = self.got["q"]
        bad = [rows[0], (rows[1][0], rows[1][1], 1.2501)]
        self.assertEqual(set(self.fails(got={"q": (cols, bad)})), {0, 1})

    def test_swapped_order(self):
        cols, rows = self.got["q"]
        f = self.fails(got={"q": (cols, rows[::-1])})
        self.assertEqual(set(f), {0, 1})
        self.assertIn("order", f[0])

    def test_repetition_differs(self):
        self.assertEqual(set(self.fails(ops=[op(0, "q", hash=11), op(1, "q", hash=12)])), {1})

    def test_canon_rounds_floats(self):
        self.assertEqual(checks.canon([(0.1 + 0.2,)]), checks.canon([(0.3,)]))


def sha(t):
    return hashlib.sha256(t.encode()).hexdigest()


class CorpusDeltaCheck(unittest.TestCase):
    def setUp(self):
        # at rest: docs 0 and 1; batch 0 (pool 0): 100 new, 101 near-copy
        # of at-rest 1, 102 exact copy of at-rest 0 (rejected at admission)
        self.tallies = {
            "at_rest": 2, "at_split": ["train", "test"],
            "at_rest_digests": [sha("zero"), sha("one")],
            "planted": [
                {"batch": 0, "dir": "batches", "doc_id": 101, "source": 1, "kind": "near",
                 "at_rest": True, "jaccard": 0.95},
                {"batch": 0, "dir": "batches", "doc_id": 102, "source": 0, "kind": "exact",
                 "at_rest": True, "jaccard": 1.0},
            ],
        }
        self.docs = {100: ("new", 0), 101: ("one!", 0), 102: ("zero", 0)}
        self.ops = [op(0, pool=0, batch_ids=[3])]
        self.split = {3: [(100, "val"), (101, "test"), (102, "train")]}
        self.admitted = {3: {100, 101}}
        self.rebatched = {100, 101}
        self.tables = {"split": [0, 1, 100, 101, 102], "grams": [0, 1, 100, 101, 102]}

    def fails(self, **kw):
        a = dict(docs=self.docs, split=self.split, admitted=self.admitted,
                 rebatched=self.rebatched, table_ids=self.tables)
        a.update(kw)
        return checks.check_corpus_delta(self.tallies, self.ops, a["docs"], a["split"],
                                         a["admitted"], a["rebatched"], a["table_ids"])

    def test_correct(self):
        self.assertEqual(self.fails(), {})

    def test_dropped_split_row(self):
        self.assertIn(0, self.fails(split={3: self.split[3][:2]}))

    def test_duplicated_split_row(self):
        self.assertIn(0, self.fails(split={3: self.split[3] + [(100, "val")]}))

    def test_copy_does_not_inherit(self):
        self.assertIn(0, self.fails(split={3: [(100, "val"), (101, "train"), (102, "train")]}))

    def test_admitted_exact_copy(self):
        self.assertIn(0, self.fails(admitted={3: {100, 101, 102}}, rebatched={100, 101, 102}))

    def test_verdicts_change_with_batch_size(self):
        self.assertIn(0, self.fails(rebatched={100}))

    def test_index_growth(self):
        self.assertIn(0, self.fails(table_ids={"split": self.tables["split"],
                                               "grams": [0, 1, 100, 101]}))
        self.assertIn(0, self.fails(table_ids={"split": self.tables["split"],
                                               "grams": [0, 1, 100, 101, 102, 102]}))
        t = copy.deepcopy(self.tables)
        t["grams"].append(999)  # a document no processed batch holds
        self.assertIn(0, self.fails(table_ids=t))


if __name__ == "__main__":
    unittest.main()
