"""Self-tests of the benchmark's own logic (no Spark needed):

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gate  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

DATA = os.path.join(os.path.dirname(HERE), "data", "sf0.1")
SMALL = dict(seconds=2, left_rate=500, update_rate=4, backlog_lefts=3000, gap_s=0.5)


def rendered(seed):
    with tempfile.TemporaryDirectory() as d:
        manifest = gen.write(d, *gen.plan(DATA, seed, **SMALL), rows_per_file=1000, meta={})
        h = hashlib.sha256()
        for root, _, files in sorted(os.walk(d)):
            for f in sorted(files):
                if f != "manifest.json":
                    h.update(f.encode())
                    with open(os.path.join(root, f), "rb") as fh:
                        h.update(fh.read())
        return manifest, h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        self.assertEqual(rendered(7), rendered(7))

    def test_seed_changes_inputs(self):
        (m1, h1), (m2, h2) = rendered(7), rendered(8)
        self.assertNotEqual(h1, h2)
        self.assertNotEqual(m1["digest"], m2["digest"])
        # sizes depend only on the knobs, not on the seed
        self.assertEqual(m1["backlog_lefts"], m2["backlog_lefts"])
        self.assertEqual(m1["schedule_lefts"], m2["schedule_lefts"])

    def test_lefts_keep_the_fk_skew_and_fresh_ids(self):
        rights, lefts, schedule = gen.plan(DATA, 3, **SMALL)
        ids = [r["event_id"] for r in lefts] + [r["event_id"] for _, s, r in schedule if s == "L"]
        self.assertEqual(len(ids), len(set(ids)))
        self.assertTrue(all(i >= gen.LEFT_ID_BASE for i in ids))
        users = {r["user_id"] for r in lefts}
        self.assertGreater(len(users), 1000)
        self.assertLess(len(users), 2000)
        self.assertEqual(len(rights), len({r["c_custkey"] for r in rights}))
        # the initial load precedes every backlog left
        self.assertLess(max(r["due_ns"] for r in rights), min(r["due_ns"] for r in lefts))

    def test_updates_keep_the_ordering_gap(self):
        _, _, schedule = gen.plan(DATA, 5, **SMALL)
        gap = int(SMALL["gap_s"] * 1e9)
        lefts = [(o, r["user_id"]) for o, s, r in schedule if s == "L"]
        updates = [(o, r["c_custkey"]) for o, s, r in schedule if s == "R"]
        self.assertTrue(updates)
        for o, c in updates:
            self.assertFalse(any(u == c and o - gap <= lo < o for lo, u in lefts))
            self.assertFalse(any(u == c and o2 != o and abs(o - o2) < gap for o2, u in updates))


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile(list(reversed(xs)), 50), 50)

    def test_small_samples(self):
        self.assertEqual(stats.percentile([5.0], 99), 5.0)
        self.assertEqual(stats.percentile([1, 2], 50), 1)
        self.assertEqual(stats.percentile([1, 2], 99), 2)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_summary_counts_samples(self):
        s = stats.latency_summary([3.0, 1.0, 2.0, 4.0])
        self.assertEqual(s, {"p50_ms": 2.0, "p99_ms": 4.0, "samples": 4})


class OpenLoopTest(unittest.TestCase):
    def test_latency_is_timed_from_due_not_sent(self):
        t0 = 1_000_000_000
        due = t0 + 10_000_000
        sent = due + 50_000_000  # the generator fell 50 ms behind
        emitted = sent + 30_000_000
        (lat,) = stats.open_loop_latencies_ms([(due, emitted)], t0)
        self.assertEqual(lat, 80.0)  # not the 30 ms since sending

    def test_drain_phase_rows_are_excluded(self):
        t0 = 1_000_000_000
        lat = stats.open_loop_latencies_ms([(5, t0 + 1), (t0, t0 + 2_000_000)], t0)
        self.assertEqual(lat, [2.0])

    def test_backlog(self):
        # lefts due at 1,2,3,4; emitted in batches at 3 (two rows) and 6 (two rows)
        self.assertEqual(stats.backlog_max([1, 2, 3, 4], [3, 3, 6, 6], [3, 6]), 1)
        self.assertEqual(stats.backlog_max([1, 2, 3, 4], [6, 6, 6, 6], [2, 6]), 2)


def span(i, layer, start, end, parent=-1, attempt=""):
    return {"id": i, "name": layer, "layer": layer, "attempt": attempt,
            "start_ns": start, "end_ns": end, "parent": parent}


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [span(0, "attempt", 0, 10_000_000_000, attempt="q#0"),
                 span(1, "build", 2_000_000_000, 5_000_000_000, 0, "q#0"),
                 span(2, "exec", 4_000_000_000, 7_000_000_000, 0, "q#0")]
        self.assertEqual(stats.self_times(spans),
                         {"attempt": 5.0, "build": 3.0, "exec": 3.0})

    def test_listener_spans_nest_under_their_innermost_container(self):
        s = 1_000_000_000
        spans = stats.resolve_parents([
            span(0, "workload", 0, 100 * s, attempt="workload"),
            span(1, "attempt", 10 * s, 50 * s, 0, "q#1"),
            span(2, "build", 10 * s, 40 * s, 1, "q#1"),
            span(3, "trigger", 12 * s, 20 * s),
            span(4, "job", 13 * s, 14 * s, attempt="run-uuid"),
            span(5, "job", 45 * s, 46 * s, attempt="q#1"),
        ])
        parent = {x["id"]: x["parent"] for x in spans}
        self.assertEqual(parent[3], 2)
        self.assertEqual(parent[4], 3)
        self.assertEqual(parent[5], 1)
        self.assertEqual({x["attempt"] for x in spans if x["id"] in (3, 4, 5)}, {"q#1"})
        per_layer = stats.self_times(spans)
        self.assertAlmostEqual(per_layer["build"], 22.0)
        self.assertAlmostEqual(per_layer["trigger"], 7.0)
        self.assertAlmostEqual(per_layer["attempt"], 9.0)
        self.assertAlmostEqual(sum(per_layer.values()), 100.0)


class DenormOracleTest(unittest.TestCase):
    def test_stale_emission_is_a_mismatch(self):
        lefts = [{"event_id": 1, "user_id": 7, "tie": 3, "due_ns": 3},
                 {"event_id": 2, "user_id": 8, "tie": 4, "due_ns": 4}]
        rights = [{"c_custkey": 7, "c_acctbal": 1.0, "tie": 1, "due_ns": 1},
                  {"c_custkey": 7, "c_acctbal": 2.0, "tie": 5, "due_ns": 5}]
        expected = gate.expected_join(lefts, rights)
        self.assertEqual(set(expected), {"1"})  # customer 8 never arrived
        good = {"1": (lefts[0], rights[1])}
        stale = {"1": (lefts[0], rights[0])}
        self.assertEqual(gate.diff_compacted(expected, good), 0)
        self.assertEqual(gate.diff_compacted(expected, stale), 1)
        self.assertEqual(gate.diff_compacted(expected, dict(good, **{"2": (lefts[1], rights[1])})), 1)


class SpecTest(unittest.TestCase):
    def test_metrics_and_slice_come_from_benchmark_json(self):
        end_to_end, per_layer, queries = run.load_spec(os.path.dirname(os.path.dirname(HERE)))
        self.assertIn(("setup_s", "s"), end_to_end)
        self.assertTrue(queries)
        for q in queries:
            self.assertIn((f"query.{q}.best_s", "s"), per_layer)
        # the seed permutes the slice, the same way every time
        self.assertEqual(sorted(run.registry_order(queries, 3)), sorted(queries))
        self.assertEqual(run.registry_order(queries, 3), run.registry_order(queries, 3))


if __name__ == "__main__":
    unittest.main()
