"""Unit tests of the benchmark's own pieces.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import random
import sys
import unittest
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import canonical  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


class SeedTest(unittest.TestCase):
    def test_same_seed_same_sequence(self):
        for w in ("olap", "storage_rw"):
            self.assertEqual(workloads.passes(w, 7, 5), workloads.passes(w, 7, 5))

    def test_other_seed_other_sequence(self):
        for w in ("olap", "storage_rw"):
            self.assertNotEqual(workloads.passes(w, 7, 5), workloads.passes(w, 8, 5))

    def test_every_pass_does_the_same_work(self):
        for ops in workloads.passes("olap", 3, 4):
            self.assertEqual(sorted(o[4:] for o in ops), sorted(workloads.OLAP_KEYS))
        for ops in workloads.passes("storage_rw", 3, 4):
            heads = [o.split(":")[0] for o in ops]
            self.assertEqual(heads[0], "create")
            self.assertEqual(sum(workloads.op_kind(o) == "write" for o in ops), 1 + 5 + 3 + 1)
            for c in workloads.CODECS:
                self.assertIn(f"ipcr:{c}", ops)

    def test_storage_deletes_always_hit_a_live_row(self):
        rng = random.Random(0)
        for _ in range(50):
            live = set(range(2000))
            for op in workloads.storage_pass(rng, 2000):
                kind, *a = op.split(":")
                if kind in ("append", "merge"):
                    live.update(range(int(a[0]), int(a[0]) + int(a[1])))
                elif kind in ("dv", "delrange", "update"):
                    hit = live.intersection(range(int(a[0]), int(a[1]) + 1))
                    self.assertTrue(hit, op)
                    if kind != "update":
                        live -= hit


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.percentile(range(19), 0.5))
        self.assertEqual(stats.percentile(range(20), 0.5), 9)
        self.assertIsNone(stats.percentile(range(99), 0.9))
        self.assertEqual(stats.percentile(range(100), 0.9), 89)
        self.assertIsNone(stats.percentile([], 0.5))

    def test_tail_is_the_highest_supported_quantile(self):
        self.assertEqual(stats.tail(range(40)), (30 / 40, 29))
        self.assertIsNone(stats.tail(range(10)))
        self.assertIsNone(stats.tail(range(20)))

    def test_order_free(self):
        xs = list(range(40))
        random.Random(1).shuffle(xs)
        self.assertEqual(stats.percentile(xs, 0.5), 19)


class SpanTest(unittest.TestCase):
    def span(self, name, s, e, op=1):
        return {"op": op, "name": name, "start_us": s, "end_us": e}

    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_length([(0, 10), (5, 15)], 8, 12), 4)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_children_once(self):
        spans = [self.span("op", 0, 100), self.span("build", 0, 30),
                 self.span("execute", 30, 90), self.span("verify", 90, 100),
                 self.span("analysis", 5, 10), self.span("job", 40, 60),
                 self.span("job", 50, 80), self.span("op", 0, 50, op=2)]
        got = {(s["op"], s["name"], s["start_us"]): t for s, t in stats.self_times(spans)}
        self.assertEqual(got[(1, "op", 0)], 0)
        self.assertEqual(got[(1, "build", 0)], 25)
        self.assertEqual(got[(1, "execute", 30)], 20)
        self.assertEqual(got[(1, "job", 40)], 20)
        self.assertEqual(got[(1, "analysis", 5)], 5)
        self.assertEqual(got[(2, "op", 0)], 50)

    def test_driver_gap(self):
        self.assertEqual(stats.driver_gap_us((0, 100), [(10, 30), (20, 40), (90, 120)]), 60)


class DigestTest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        rows = [(1, "a", 2.5), (2, "b", None), (3, "c", -1.0)]
        d = canonical.digest(["k", "s", "x"], rows)
        self.assertEqual(d, canonical.digest(["k", "s", "x"], rows[::-1]))
        self.assertEqual(d, canonical.digest(["x", "k", "s"], [(r[2], r[0], r[1]) for r in rows]))

    def test_values_and_types_matter(self):
        base = canonical.digest(["v"], [(1,)])
        self.assertNotEqual(base, canonical.digest(["v"], [(1.0,)]))
        self.assertNotEqual(base, canonical.digest(["v"], [(True,)]))
        self.assertNotEqual(base, canonical.digest(["w"], [(1,)]))
        self.assertNotEqual(canonical.digest(["a", "b"], [("x,", "y")]),
                            canonical.digest(["a", "b"], [("x", ",y")]))

    def test_encoding_matches_the_jvm(self):
        # the JVM side writes java.lang.Double.doubleToLongBits and
        # String.length (UTF-16 units); these pin the shared contract
        self.assertEqual(canonical.encode(1.5), "F4609434218613702656")
        self.assertEqual(canonical.encode(-0.0), canonical.encode(0.0))
        self.assertEqual(canonical.encode(float("nan")), "FNaN")
        self.assertEqual(canonical.encode("\U0001F600"), "S2:\U0001F600")
        self.assertEqual(canonical.encode([1, None]), "[I1,N]")


class FailureAccountingTest(unittest.TestCase):
    def op(self, ok, seconds, op="key:tpch_q1", digest="d", timed=True):
        return {"ok": ok, "seconds": seconds, "op": op, "digest": digest, "timed": timed,
                "traced": False, "error": "", "pass": 1, "id": 1, "rows": 1, "version": -1}

    def test_failed_op_counts_and_has_no_time(self):
        ops = [self.op(True, 1.0), self.op(False, 0.001), self.op(True, 2.0)]
        self.assertAlmostEqual(stats.fail_ratio(ops), 1 / 3)
        self.assertEqual(stats.latency_samples(ops), [1.0, 2.0])

    def test_wrong_result_is_a_failure(self):
        ops = [self.op(True, 1.0, digest="good"), self.op(True, 1.0, digest="bad"),
               self.op(True, 1.0, op="key:tpch_q3", digest="x")]
        refs = {"tpch_q1": "good", "tpch_q3": None}
        with mock.patch("check.oracle_digests", return_value=refs):
            run.verify("olap", "unused", ops, {})
        self.assertEqual([o["ok"] for o in ops], [True, False, False])

    def test_failed_pass_never_reads_fast(self):
        r = {"passes": [self.pass_("w", 7.0),
                        self.pass_("m", 5.0), self.pass_("m", 1.0, ok=False)],
             "setup_s": 2.0, "calib": [1], "rss_mb": 1.0}
        m, _ = run.end_to_end("olap", r, [self.op(True, 0.5)] * 20 + [self.op(False, 0.01)])
        self.assertEqual(m["pass_s"], 5.0)

    def pass_(self, phase, wall_s, ok=True):
        return {"phase": phase, "timed": phase == "m", "traced": False,
                "wall_s": wall_s, "cpu_s": 1, "ok": ok}

    def test_setup_is_cold_start_plus_warm_up(self):
        r = {"passes": [self.pass_("w", 7.0), self.pass_("m", 3.0), self.pass_("m", 4.0)],
             "setup_s": 2.0, "calib": [1], "rss_mb": 1.0}
        m, _ = run.end_to_end("olap", r, [self.op(True, 0.5)])
        self.assertEqual(m["setup_s"], 9.0)


if __name__ == "__main__":
    unittest.main()
