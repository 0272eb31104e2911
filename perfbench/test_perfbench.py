"""Checks for the benchmark's own arithmetic and expected-state model.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import numpy as np

import plan as plans
import run
import stats


class TailTest(unittest.TestCase):
    def test_tail_leaves_exactly_ten_samples_beyond(self):
        xs = list(range(1, 41))  # 40 samples
        p, v = stats.tail(xs)
        self.assertEqual(v, 30)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(p, 75.0)

    def test_tail_percentile_rises_with_sample_count(self):
        p, v = stats.tail(list(range(1000)))
        self.assertAlmostEqual(p, 99.0)
        self.assertEqual(v, 989)

    def test_tail_is_the_maximum_below_forty_samples(self):
        # with fewer than 40 samples the rank with ten beyond is under p75
        for n in (1, 12, 20, 27, 39):
            xs = list(range(n))
            self.assertEqual(stats.tail(xs), (100.0, n - 1))

    def test_tail_of_48_samples_is_p79(self):
        p, v = stats.tail(list(range(48)))
        self.assertAlmostEqual(p, 100.0 * 38 / 48)
        self.assertEqual(v, 37)

    def test_tail_is_never_below_the_median(self):
        rng = np.random.default_rng(7)
        for n in range(1, 80):
            xs = rng.exponential(1.0, n).tolist()
            self.assertGreaterEqual(stats.tail(xs)[1], stats.median(xs))

    def test_tail_ignores_input_order(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 8
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])


class OverheadTest(unittest.TestCase):
    def test_overhead_compares_like_ops_only(self):
        traced = [("a", 110.0), ("b", 220.0), ("compact", 5000.0)]
        plain = [("a", 100.0), ("a", 100.0), ("b", 200.0)]
        self.assertAlmostEqual(stats.overhead_pct(traced, plain), 10.0)

    def test_overhead_is_a_geometric_mean_of_ratios(self):
        traced = [("a", 200.0), ("b", 50.0)]
        plain = [("a", 100.0), ("b", 100.0)]
        self.assertAlmostEqual(stats.overhead_pct(traced, plain), 0.0)

    def test_overhead_needs_a_common_op(self):
        with self.assertRaises(ValueError):
            stats.overhead_pct([("a", 1.0)], [("b", 1.0)])


class AmplificationTest(unittest.TestCase):
    def test_write_amp_counts_maintenance_bytes_against_user_bytes(self):
        # one 50-row append (50 * 264 user bytes) plus a compaction that
        # rewrote 40,000 bytes and committed no user rows
        user = 50 * plans.ROW_BYTES
        written = 20_000 + 40_000
        self.assertAlmostEqual(stats.write_amp(written, user + 0), 60_000 / 13_200)

    def test_delete_user_bytes_are_the_ids(self):
        self.assertEqual(plans.ID_BYTES * 50, 400)
        self.assertEqual(plans.ROW_BYTES, 8 + 4 * 64)

    def test_space_amp(self):
        self.assertAlmostEqual(stats.space_amp(3_000_000, 600_000), 5.0)

    def test_amp_refuses_an_empty_base(self):
        with self.assertRaises(ValueError):
            stats.write_amp(10, 0)
        with self.assertRaises(ValueError):
            stats.space_amp(10, 0)


class SelfTimeTest(unittest.TestCase):
    def span(self, op, start, end, layer="x"):
        return {"op": op, "layer": layer, "start": start, "end": end}

    def test_union_length_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_covered_children_once(self):
        spans = [self.span(0, 0, 100), self.span(0, 10, 40), self.span(0, 30, 50),
                 self.span(0, 12, 20)]
        self.assertEqual(stats.self_times(spans), [60, 22, 20, 8])

    def test_spans_of_other_ops_are_not_children(self):
        spans = [self.span(0, 0, 100), self.span(1, 10, 20)]
        self.assertEqual(stats.self_times(spans), [100, 10])

    def test_identical_intervals_nest_once(self):
        spans = [self.span(0, 0, 10), self.span(0, 0, 10)]
        self.assertEqual(stats.self_times(spans), [0, 10])


def vec(*xs):
    return np.array(xs + (0.0,) * (plans.DIM - len(xs)), dtype=np.float32)


class IndexModelTest(unittest.TestCase):
    def setUp(self):
        self.m = plans.IndexModel({1: vec(1), 2: vec(0, 1), 3: vec(0, 0, 1)})

    def test_each_commit_creates_the_next_version(self):
        self.assertEqual(self.m.append({10: vec(1, 1)}), 2)
        self.assertEqual(self.m.delete([1]), 3)
        self.assertEqual(self.m.upsert({2: vec(2)}), 4)
        self.assertEqual(self.m.compact(), 5)
        self.assertEqual(sorted(self.m.state()), [2, 3, 10])
        np.testing.assert_array_equal(self.m.state()[2], vec(2))

    def test_time_travel_sees_the_old_rows(self):
        self.m.delete([1])
        self.m.upsert({2: vec(5)})
        self.assertEqual(sorted(self.m.state(1)), [1, 2, 3])
        np.testing.assert_array_equal(self.m.state(2)[2], vec(0, 1))
        np.testing.assert_array_equal(self.m.state()[2], vec(5))

    def test_compaction_keeps_the_rows(self):
        before = self.m.read_expectation()
        self.m.compact()
        self.assertEqual(self.m.read_expectation(), before)

    def test_vacuum_ends_time_travel_to_unkept_versions(self):
        for _ in range(4):
            self.m.compact()
        self.m.vacuum([3, 4, 5])
        self.assertEqual(self.m.retained, {3, 4, 5})
        with self.assertRaises(AssertionError):
            self.m.vacuum([1])  # the head must always be kept

    def test_append_refuses_live_ids(self):
        with self.assertRaises(AssertionError):
            self.m.append({1: vec(3)})

    def test_digest_is_order_independent_and_content_sensitive(self):
        ids = np.array([1, 2, 3])
        vecs = np.stack([vec(1), vec(0, 1), vec(0, 0, 1)])
        d = plans.vec_digest(ids, vecs)
        self.assertEqual(d, plans.vec_digest(ids[::-1], vecs[::-1]))
        changed = vecs.copy()
        changed[1, 5] = 1e-7
        self.assertNotEqual(d, plans.vec_digest(ids, changed))
        self.assertNotEqual(d, plans.vec_digest(np.array([1, 2, 4]), vecs))

    def test_exact_topk_orders_by_rounded_score_then_id(self):
        self.m.append({7: vec(1)})  # ties id 1 exactly
        top, scores = self.m.exact_topk(vec(1), k=3)
        self.assertEqual(top[:2], [1, 7])
        self.assertAlmostEqual(scores[1], 1.0)


class PlanTest(unittest.TestCase):
    def test_query_plan_is_seeded_and_covers_every_query_per_group(self):
        a = plans.query_plan(plans.SQL_MIX, 3, groups=4)
        self.assertEqual(a, plans.query_plan(plans.SQL_MIX, 3, groups=4))
        self.assertNotEqual(a, plans.query_plan(plans.SQL_MIX, 4, groups=4))
        for g in range(5):
            self.assertEqual(sorted(args[0] for gg, _, args in a if gg == g), sorted(plans.SQL_MIX))

    def test_window_size_depends_on_seconds_only(self):
        self.assertEqual(plans.timed_groups(12), 2)
        self.assertEqual(plans.timed_groups(24), 4)
        self.assertEqual(plans.timed_groups(1), 1)

    def test_traced_groups_alternate_which_half_runs_first(self):
        self.assertEqual(plans.traced_groups(4), [2, 3])
        self.assertEqual(plans.traced_groups(8), [2, 3, 6, 7])

    def test_a_traced_run_traces_half_its_groups(self):
        for n in range(2, 9):
            traced = plans.traced_groups(n)
            self.assertEqual(len(traced), n // 2)
            self.assertTrue(set(traced) <= set(range(1, n + 1)))

    def test_index_plan_has_one_op_of_each_kind_per_group(self):
        base = dict(enumerate(plans.gendata.embed(np.random.default_rng(0), 200)))
        ops, _, _ = plans.index_plan(base, seed=5, groups=6)
        maintenance = ("compact", "vacuum")
        for g in range(7):
            kinds = sorted(kind for gg, kind, _ in ops if gg == g)
            every = [k for k in run.COMMITS + run.READS if k not in maintenance]
            if g % plans.COMPACT_EVERY == 0:
                every += maintenance
            self.assertEqual(kinds, sorted(every))

    def test_index_plan_keeps_the_live_size_and_reads_only_retained_versions(self):
        base = dict(enumerate(plans.gendata.embed(np.random.default_rng(0), 200)))
        ops, expect, batches = plans.index_plan(base, seed=5, groups=3)
        self.assertEqual(len(ops), len(expect))
        retained, head, latest = {1}, 1, {}
        for (g, kind, args), e in zip(ops, expect):
            if "version" in e:
                head = e["version"]
                retained.add(head)
            if kind == "vacuum":
                retained &= {int(v) for v in args[0].split(",")}
            if kind in ("read_as_of", "point_as_of"):
                self.assertIn(int(args[0]), retained)
            if kind == "point_as_of":
                self.assertEqual(e["rows"], 1)
            if kind == "read_latest":
                latest.setdefault(g, []).append(e["rows"])
        # each group reads the whole table right after its append
        self.assertEqual(latest, {g: [250] for g in range(4)})
        # three commits per group, and a compaction in groups 0 and 3
        self.assertEqual(head, 1 + 4 * 3 + 2)
        self.assertEqual(ops, plans.index_plan(base, seed=5, groups=3)[0])


class BenchmarkFileTest(unittest.TestCase):
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")

    @unittest.skipUnless(os.path.exists(path), "no BENCHMARK.json next to perfbench/")
    def test_declared_metrics_are_the_reported_ones(self):
        with open(self.path) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         [(n, run.unit_of(n)) for n in run.PER_LAYER])
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.GATED))
        setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual(setup["bound"], max(m["bound"] for m in b["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
