"""Tests of the benchmark's pure parts: python3 -m unittest discover -s benchmark"""

import datetime
import decimal
import unittest

import benchlib


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertFalse(benchlib.percentile_supported(99, 0.9))
        self.assertTrue(benchlib.percentile_supported(100, 0.9))
        self.assertFalse(benchlib.percentile_supported(999, 0.99))
        self.assertTrue(benchlib.percentile_supported(1000, 0.99))

    def test_quantile_interpolates_between_ranks(self):
        self.assertEqual(benchlib.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(benchlib.median([1.0, 2.0, 3.0, 4.0]), 2.5)
        self.assertAlmostEqual(benchlib.quantile(list(range(11)), 0.9), 9.0)


class Spans(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        # children overlap each other and stick out of the parent
        self.assertEqual(benchlib.self_time((0, 100), [(10, 30), (20, 40), (90, 120)]), 60)
        self.assertEqual(benchlib.self_time((0, 100), []), 100)
        self.assertEqual(benchlib.self_time((0, 100), [(-5, 200)]), 0)

    def test_jobs_become_children_of_the_phase_they_started_in(self):
        q = {"name": "q", "start_ms": 1000.0, "construct_s": 0.1, "action_s": 0.2,
             "plan_s": 0.05, "release_at_s": 0.3, "release_s": 0.01, "wall_s": 0.31}
        record = {"passes": [{"queries": [q]}], "jobs": [
            {"id": 1, "start_ms": 1050, "end_ms": 1060, "site": "parquet at Tables.scala:17"},
            {"id": 2, "start_ms": 1100, "end_ms": 1200, "site": "save at Main.scala:9"},
            {"id": 3, "start_ms": 1160, "end_ms": 1200, "site": "save at Main.scala:9"}]}
        tree = benchlib.spans(record)
        parent = {s["job"]: tree[s["parent"]]["name"] for s in tree if "job" in s}
        self.assertEqual(parent, {1: "construct", 2: "plan", 3: "execute"})
        # with no planning time, a job on the boundary is counted once
        q["plan_s"] = 0.0
        tree = benchlib.spans(record)
        parent = {s["job"]: tree[s["parent"]]["name"] for s in tree if "job" in s}
        self.assertEqual(parent, {1: "construct", 2: "execute", 3: "execute"})

    def test_per_layer_totals_a_pass(self):
        q = {"name": "q", "start_ms": 1000.0, "construct_s": 0.1, "action_s": 0.2,
             "release_at_s": 0.3, "release_s": 0.01, "wall_s": 0.4, "held_bytes": 5}
        job = {"stages": 2, "single_task_stages": 1, "tasks": 3, "task_s": 0.1,
               "shuffle_write": 0, "shuffle_read": 0, "scan_bytes": 7,
               "scan_rows": 2, "spill": 0, "execution": ""}
        record = {
            "passes": [{"wall_s": 0.4, "gc_s": 0.0, "queries": [q]}],
            "jobs": [dict(job, id=1, start_ms=1010, end_ms=1030,
                          site="parquet at Tables.scala:17"),
                     dict(job, id=2, start_ms=1040, end_ms=1060,
                          site="localCheckpoint at Materialize.scala:100"),
                     dict(job, id=3, start_ms=1150, end_ms=1250, site="save at Main.scala:9")],
            "tasks": [[1010, 1030], [1150, 1250]],
            "plans": [{"func": "command", "start_ms": 1100, "plan_s": 0.02}]}
        m, _ = benchlib.per_layer(record, 4)
        self.assertEqual((m["construct.jobs"], m["tables.jobs"], m["materialize.jobs"],
                          m["execute.jobs"], m["stages"], m["tasks"]), (2, 1, 1, 1, 6, 9))
        self.assertAlmostEqual(m["plan.s"], 0.02)
        self.assertAlmostEqual(m["execute.s"], 0.18)
        self.assertAlmostEqual(m["construct.self_s"], 0.06)
        self.assertAlmostEqual(m["no_task.s"], 0.28)
        self.assertAlmostEqual(m["phase_gap.max_frac"], 0.09 / 0.4)


class Attribution(unittest.TestCase):
    def test_call_site_file_names_the_module(self):
        self.assertEqual(benchlib.module_of("parquet at Tables.scala:17"), "tables")
        self.assertEqual(benchlib.module_of("localCheckpoint at Materialize.scala:100"),
                         "materialize")
        self.assertEqual(benchlib.module_of("count at Bridge.scala:60"), "materialize")
        self.assertEqual(benchlib.module_of("save at Main.scala:12"), "other")
        self.assertEqual(benchlib.module_of("run at ThreadPoolExecutor.java:1136"), "other")
        self.assertEqual(benchlib.module_of(""), "other")

    def test_adaptive_jobs_take_the_site_of_their_execution(self):
        pool = "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768"
        jobs = [{"id": 1, "site": pool, "execution": "7"},
                {"id": 2, "site": "localCheckpoint at Materialize.scala:100", "execution": "7"},
                {"id": 3, "site": pool, "execution": "8"},
                {"id": 4, "site": pool, "execution": ""}]
        mods = {i: benchlib.module_of(s) for i, s in benchlib.program_sites(jobs).items()}
        self.assertEqual(mods, {1: "materialize", 2: "materialize", 3: "other", 4: "other"})


class OutputDigest(unittest.TestCase):
    rows = [(1, "a", 0.5), (2, None, -0.0), (3, "c", 1e300)]
    names = ["id", "s", "x"]

    def test_order_of_rows_and_columns_does_not_matter(self):
        d = benchlib.digest(self.names, self.rows)
        self.assertEqual(benchlib.digest(self.names, reversed(self.rows)), d)
        swapped = [(s, i, x) for i, s, x in self.rows]
        self.assertEqual(benchlib.digest(["s", "id", "x"], swapped), d)

    def test_digest_sees_duplicates_and_values(self):
        d = benchlib.digest(self.names, self.rows)
        self.assertNotEqual(benchlib.digest(self.names, self.rows + self.rows[:1]), d)
        self.assertNotEqual(benchlib.digest(self.names, [(1, "a", 0.5000001)] + self.rows[1:]), d)
        # an int and a double of equal value are different outputs
        self.assertNotEqual(benchlib.canonical(1), benchlib.canonical(1.0))

    def test_canonical_forms_match_the_scala_digest(self):
        # the same vector is checked in DigestSpec.scala
        names = ["k", "b", "t", "d", "arr", "dec"]
        rows = [(7, True, datetime.datetime(2024, 1, 1, 0, 0, 1, 500),
                 datetime.date(1999, 12, 31), [1.5, None],
                 decimal.Decimal("12.340"))]
        self.assertEqual(benchlib.digest(names, rows), (1, "23605d9fb6a729c6"))

    def test_corrupted_expected_digest_fails_the_run(self):
        observed = {"a": {"rows": 3, "digest": "00000000000000aa"},
                    "b": {"rows": 1, "digest": "00000000000000bb"}}
        expected = {k: dict(v) for k, v in observed.items()}
        self.assertEqual(benchlib.check_outputs(expected, observed), [])
        expected["b"]["digest"] = "00000000000000bc"
        fails = benchlib.check_outputs(expected, observed)
        self.assertEqual(len(fails), 1)
        self.assertTrue(fails[0].startswith("b: "))
        observed["a"] = {"error": "IllegalStateException: boom"}
        self.assertEqual(len(benchlib.check_outputs(expected, observed)), 2)


class QueryOrder(unittest.TestCase):
    def test_seed_fixes_every_pass_order(self):
        qs = ["q%d" % i for i in range(20)]
        a = benchlib.pass_orders(qs, 7, 5)
        self.assertEqual(a, benchlib.pass_orders(list(reversed(qs)), 7, 5))
        self.assertNotEqual(a, benchlib.pass_orders(qs, 8, 5))
        self.assertNotEqual(a[0], a[1])
        self.assertTrue(all(sorted(o) == sorted(qs) for o in a))


if __name__ == "__main__":
    unittest.main()
