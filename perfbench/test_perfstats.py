"""Tests of the benchmark's arithmetic. Run: python3 -m unittest discover perfbench"""
import unittest

import perfstats as ps


class TailRule(unittest.TestCase):
    def test_exactly_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        v, pct, n = ps.tail(xs)
        self.assertEqual(n, 100)
        self.assertEqual(v, 90)  # 91..100 lie beyond it
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 6, 4, 10, 11, 12]
        self.assertEqual(ps.tail(xs)[0], 2)

    def test_too_few_samples_falls_back_to_max(self):
        self.assertEqual(ps.tail([3, 1, 2]), (3, 100.0, 3))
        self.assertEqual(ps.tail([]), (0.0, 0.0, 0))

    def test_eleven_samples(self):
        v, pct, n = ps.tail(list(range(11)))
        self.assertEqual((v, n), (0, 11))


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps_and_gaps(self):
        self.assertEqual(ps.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(ps.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(ps.union_length([]), 0)

    def test_span_minus_union_of_children(self):
        # children overlap each other: the overlap is subtracted once
        self.assertEqual(ps.self_time((0, 100), [(10, 40), (30, 50), (80, 90)]), 50)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(ps.self_time((10, 20), [(0, 15), (18, 30)]), 3)
        self.assertEqual(ps.self_time((10, 20), [(30, 40)]), 10)

    def test_parts_of_a_request_add_up_to_its_wall(self):
        rec = {"trace": {
            "requests": [{"id": 1, "name": "q", "kind": "query", "start": 0, "end": 100_000}],
            "spans": [
                {"id": 1, "parent": 0, "req": 1, "layer": "request", "name": "q",
                 "start": 0, "end": 100_000},
                {"id": 2, "parent": 1, "req": 1, "layer": "operators", "name": "construct",
                 "start": 1_000, "end": 60_000},
                {"id": 3, "parent": 1, "req": 1, "layer": "operators", "name": "action",
                 "start": 60_000, "end": 99_000}],
            "jobs": [{"id": 0, "req": 1, "stage_ids": [0], "start": 20_000, "end": 50_000},
                     {"id": 1, "req": 1, "stage_ids": [1], "start": 70_000, "end": 95_000}],
            "phases": [{"analysis": [2_000, 5_000], "optimization": [5_000, 9_000],
                        "planning": [62_000, 68_000]}],
        }}
        d = ps.decompose(rec)[0]
        self.assertEqual(d["job_ms"], 55)
        self.assertEqual(d["catalyst_ms"], 13)
        self.assertEqual(d["driver_ms"], 45)
        self.assertAlmostEqual(d["parts_ms"], d["wall_ms"])
        self.assertTrue(d["within_5pct"])

    def test_a_misattributed_job_breaks_the_sum(self):
        rec = {"trace": {
            "requests": [{"id": 1, "name": "q", "kind": "query", "start": 0, "end": 10_000}],
            "spans": [], "phases": [],
            "jobs": [{"id": 0, "req": 1, "stage_ids": [0], "start": 20_000, "end": 30_000}],
        }}
        self.assertFalse(ps.decompose(rec)[0]["within_5pct"])


    def test_an_untagged_job_inside_a_request_fails_the_check(self):
        # job 1 lost its request id (started from a thread the local
        # property did not reach): its time lands in the request's self
        # time, so the parts still add up, but the check must fail
        rec = {"trace": {
            "requests": [{"id": 1, "name": "q", "kind": "query", "start": 0, "end": 100_000},
                         {"id": 2, "name": "r", "kind": "query", "start": 200_000,
                          "end": 300_000}],
            "spans": [], "phases": [],
            "jobs": [{"id": 0, "req": 1, "stage_ids": [0], "start": 10_000, "end": 40_000},
                     {"id": 1, "req": 0, "stage_ids": [1], "start": 50_000, "end": 90_000},
                     {"id": 2, "req": 0, "stage_ids": [2], "start": 150_000, "end": 160_000},
                     {"id": 3, "req": 2, "stage_ids": [3], "start": 210_000, "end": 290_000}],
        }}
        d1, d2 = ps.decompose(rec)
        self.assertAlmostEqual(d1["parts_ms"], d1["wall_ms"])
        self.assertEqual(d1["untagged_jobs"], 1)
        self.assertFalse(d1["within_5pct"])
        # a job between requests (cache hygiene) belongs to no request
        self.assertEqual(d2["untagged_jobs"], 0)
        self.assertTrue(d2["within_5pct"])


class Attribution(unittest.TestCase):
    """A synthetic listener-event sequence: the main job of request 1
    runs alongside an AQE broadcast job and a scalar-subquery job that
    Spark started from other threads, then request 2's job reuses a
    shuffle stage of request 1's main job (skipped, never resubmitted).
    An "oldest open job" rule gives every stage submitted while job 0 is
    open to job 0; the listed-stage rule gives each to its own job."""

    jobs = [
        {"id": 0, "req": 1, "stage_ids": [0, 1], "start": 0, "end": 90_000},
        {"id": 1, "req": 1, "stage_ids": [2], "start": 10_000, "end": 20_000},  # broadcast
        {"id": 2, "req": 1, "stage_ids": [3], "start": 15_000, "end": 30_000},  # subquery
        {"id": 3, "req": 2, "stage_ids": [1, 4], "start": 100_000, "end": 120_000},
    ]
    stages = [
        {"id": 2, "attempt": 0, "submitted": 11_000},
        {"id": 3, "attempt": 0, "submitted": 16_000},
        {"id": 0, "attempt": 0, "submitted": 31_000},
        {"id": 1, "attempt": 0, "submitted": 60_000},
        {"id": 4, "attempt": 0, "submitted": 101_000},
    ]

    def test_each_stage_goes_to_the_job_that_lists_it(self):
        got = ps.attribute_stages(self.jobs, self.stages)
        self.assertEqual(got, {(2, 0): 1, (3, 0): 2, (0, 0): 0, (1, 0): 0, (4, 0): 3})

    def test_a_shared_stage_goes_to_the_job_open_when_it_ran(self):
        retry = self.stages + [{"id": 1, "attempt": 1, "submitted": 105_000}]
        self.assertEqual(ps.attribute_stages(self.jobs, retry)[(1, 1)], 3)

    def test_phases_go_to_the_request_holding_them(self):
        reqs = [{"id": 1, "start": 0, "end": 95_000}, {"id": 2, "start": 96_000, "end": 125_000}]
        self.assertEqual(ps.attribute_by_time(reqs, 50_000), 1)
        self.assertEqual(ps.attribute_by_time(reqs, 110_000), 2)
        self.assertEqual(ps.attribute_by_time(reqs, 500_000), 0)


class FailRatio(unittest.TestCase):
    def test_errors_and_failed_checks_both_count(self):
        reqs = [{"error": None}, {"error": "RuntimeException: boom"},
                {"error": "check: 9 rows, want 10"}, {}]
        self.assertEqual(ps.fail_counts(reqs), (4, 2))
        self.assertEqual(ps.fail_ratio(reqs), 0.5)

    def test_nothing_attempted_is_a_total_failure(self):
        self.assertEqual(ps.fail_ratio([]), 1.0)

    def test_maintenance_is_not_a_served_request(self):
        reqs = [{"kind": "search"}, {"kind": "write"}, {"kind": "maintenance"}]
        self.assertEqual(ps.serving(reqs), reqs[:2])

    def test_a_kernel_no_slower_than_its_baseline_is_a_failed_measurement(self):
        rec = {"workload_facts": {"kernels": {
            "vec_l2": {"ns_per_row": 120.0, "rows": 10 ** 6, "kernel_s": 0.5, "baseline_s": 0.38},
            "vec_cosine": {"ns_per_row": -3.0, "rows": 10 ** 6, "kernel_s": 0.4,
                           "baseline_s": 0.403}}}}
        got = ps.kernel_problems(rec)
        self.assertEqual(len(got), 1)
        self.assertIn("functions.vec_cosine", got[0])
        self.assertEqual(ps.kernel_problems({"workload_facts": {}}), [])


if __name__ == "__main__":
    unittest.main()
