"""Tests of the benchmark's own logic (no JVM needed).

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import random
import sys
import unittest

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import lake  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def small_events(n=2000):
    ids = np.arange(n)
    return ids, (ids * 37) % 5000 + 1


class PercentileTest(unittest.TestCase):
    def test_reported_percentiles_have_ten_samples_beyond(self):
        n = run.MIN_OPS
        for q in (0.5, run.TAIL_Q):
            self.assertGreaterEqual(metrics.beyond(list(range(n)), q), 10)
        self.assertLess(metrics.beyond(list(range(n - 1)), run.TAIL_Q), 10)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        random.Random(1).shuffle(xs)
        self.assertEqual(metrics.percentile(xs, 0.5), 50)
        self.assertEqual(metrics.percentile(xs, 0.9), 90)
        self.assertEqual(metrics.beyond(xs, 0.9), 10)


class LakePlanTest(unittest.TestCase):
    def plan(self, seed):
        ids, cents = small_events()
        return lake.plan(seed, ids, cents, 2000, 1, 300)

    def test_same_seed_same_op_sequence(self):
        self.assertEqual(self.plan(7)[0], self.plan(7)[0])
        self.assertNotEqual(self.plan(7)[0], self.plan(8)[0])

    def test_plan_covers_every_op_kind(self):
        kinds = {ln.split()[0] for ln in self.plan(3)[0]}
        for k in lake.WRITES | {k for w in lake.WINDOWS for k in w}:
            self.assertIn(k, kinds)

    def test_runs_start_from_the_shared_history(self):
        ids, cents = small_events()
        hist = lake.history_plan(ids, cents, 2000)
        self.assertEqual(len(hist), lake.HISTORY_WRITES + 1)
        self.assertEqual(sum(ln.startswith("compact") for ln in hist),
                         lake.HISTORY_WRITES // lake.HISTORY_COMPACT_EVERY)
        lines, model = self.plan(7)
        self.assertEqual(lines[0], f"history t7 {lake.HISTORY_WRITES}")
        appends = lake.HISTORY_WRITES - (
            lake.HISTORY_WRITES // lake.HISTORY_COMPACT_EVERY)
        self.assertEqual(model.after[lake.HISTORY_WRITES],
                         (2000 + appends * lake.HISTORY_ROWS,
                          int(cents.sum()) + sum(
                              int(lake.cents(np.arange(lo, hi), s).sum())
                              for lo, hi, s in history_batches(hist))))
        timed = [ln for ln in lines[lines.index("timed"):]
                 if ln.startswith("append")]
        self.assertFalse(any(ln.split()[4].startswith("h") for ln in timed))

    def test_every_block_does_the_same_work(self):
        a = lake.kind_sequence(random.Random(4), 40)
        b = lake.kind_sequence(random.Random(5), 40)
        self.assertNotEqual(a, b)
        for i in range(0, 40, 5):   # same multiset per window, heavy op last
            self.assertEqual(sorted(a[i:i + 5]), sorted(b[i:i + 5]))
            self.assertEqual(a[i + 4], b[i + 4])
        for block in (a[:20], a[20:]):
            self.assertEqual(len([k for k in block if k in lake.DML]), 3)
            self.assertEqual(len([k for k in block if k in lake.WRITES]), 10)
        self.assertEqual({k for k in a if k in lake.DML}, set(lake.DML))


def history_batches(lines):
    for ln in lines:
        p = ln.split()
        if p[0] == "append":
            lo, hi = map(int, p[2].split("-"))
            yield lo, hi, int(p[3])


def answers(model, lines):
    """Op records as a correct harness would return them."""
    ops, timed = [], False
    for i, ln in enumerate(lines):
        parts = ln.split()
        if parts[0] == "timed":
            timed = True
            continue
        if not timed or parts[0] == "table":
            continue
        op = {"i": i, "kind": parts[0], "write": int(parts[1]), "ok": True}
        if parts[0] == "read_changes":
            op["to"] = int(parts[2])
        exp = lake.expected(model, op)
        if exp is not None:
            op["rows"], op["cents"] = exp
        ops.append(op)
    return ops


class ModelCheckTest(unittest.TestCase):
    def setUp(self):
        ids, cents = small_events()
        self.lines, self.model = lake.plan(5, ids, cents, 2000, 1, 200)
        self.ops = answers(self.model, self.lines)

    def test_correct_reads_pass(self):
        self.assertEqual(lake.check(self.model, self.ops), [])

    def test_wrong_read_is_flagged(self):
        for kind in ("read_old", "read_changes", "read_head"):
            ops = [dict(o) for o in self.ops]
            op = next(o for o in ops if o["kind"] == kind)
            op["cents"] += 1
            bad = lake.check(self.model, ops)
            self.assertEqual(len(bad), 1, kind)
            self.assertIn(kind, bad[0])

    def test_older_versions_differ(self):
        counts = {self.model.after[w] for w in range(len(self.model.after))}
        self.assertGreater(len(counts), 10)

    def test_update_and_delete_model(self):
        m = lake.Model(np.arange(10), np.full(10, 100))
        m.update(2, 4)
        m.delete(3, 5)
        self.assertEqual(m.after[1], (10, 1375))
        self.assertEqual(m.after[2], (7, 825))
        self.assertEqual(m.feed[1], (3, 675))
        self.assertEqual(m.feed[2], (3, 550))


class AttributionTest(unittest.TestCase):
    def test_self_times_add_up_to_op_wall(self):
        op = {"op": 1, "name": "op", "s": 0, "e": 1000}
        kids = [
            {"op": 1, "name": "build", "s": 10, "e": 200},
            {"op": 1, "name": "execute", "s": 200, "e": 990},
            {"op": -1, "name": "plan.optimization", "s": 210, "e": 260},
            {"op": 1, "name": "job", "s": 300, "e": 900},
            {"op": 1, "name": "job", "s": 350, "e": 950},
            {"op": 1, "name": "stage", "s": 310, "e": 600},
        ]
        got = metrics.attribute(op, kids)
        self.assertEqual(sum(got.values()), 1000)
        self.assertEqual(got["stage"], 290)
        self.assertEqual(got["job"], 950 - 300 - 290)
        self.assertEqual(got["plan.optimization"], 50)
        self.assertEqual(got["op"], 20)

    def test_unowned_spans_go_to_the_op_holding_them(self):
        spans = [{"op": 1, "name": "op", "s": 0, "e": 100},
                 {"op": 2, "name": "op", "s": 200, "e": 300},
                 {"op": -1, "name": "plan.planning", "s": 220, "e": 230}]
        _, by_op = metrics.group_spans(spans)
        self.assertEqual([s["name"] for s in by_op[2]], ["plan.planning"])
        self.assertEqual(by_op[1], [])


if __name__ == "__main__":
    unittest.main()
