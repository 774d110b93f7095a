"""Tests of the benchmark's own metric logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


class TailTest(unittest.TestCase):
    def test_eleventh_largest_has_ten_beyond(self):
        xs = list(range(1, 36))  # 35 samples
        v, p, beyond, n = metrics.tail(xs)
        self.assertEqual(v, 25)
        self.assertEqual(beyond, 10)
        self.assertEqual(n, 35)
        self.assertAlmostEqual(p, 100.0 * 25 / 35)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail([5, 1, 9, 3] * 5), metrics.tail(sorted([5, 1, 9, 3] * 5)))

    def test_ties_at_the_cut_reduce_the_count_beyond(self):
        xs = [1] * 5 + [7] * 3 + [9] * 9  # 17 samples, 11th largest is 7
        v, _, beyond, _ = metrics.tail(xs)
        self.assertEqual(v, 7)
        self.assertEqual(beyond, 9)

    def test_too_few_samples_fall_back_to_max(self):
        self.assertEqual(metrics.tail([3, 8, 2]), (8, 100.0, 0, 3))
        self.assertEqual(metrics.tail([1] * 10)[2], 0)
        self.assertEqual(metrics.tail([]), (0.0, 0.0, 0, 0))


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_gaps(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(5, 6), (0, 10)]), 10)
        self.assertEqual(metrics.union_length([]), 0)

    def test_union_clips_to_window(self):
        self.assertEqual(metrics.union_length([(-5, 2), (8, 20)], 0, 10), 4)
        self.assertEqual(metrics.union_length([(11, 12)], 0, 10), 0)

    def test_self_time_subtracts_covered_part_once(self):
        # two overlapping children cover [2, 7]; one sticks out past the end
        self.assertEqual(metrics.self_time((0, 10), [(2, 5), (4, 7), (9, 15)]), 4)

    def test_driver_gap_is_wall_minus_job_union(self):
        trace = {
            "spans": [{"id": 1, "parent": 0, "name": "op", "kind": "op", "start": 0.0,
                       "end": 100.0, "attrs": {}},
                      {"id": 2, "parent": 1, "name": "c", "kind": "call", "start": 10.0,
                       "end": 90.0, "attrs": {}}],
            "jobs": [{"id": 0, "group": "2", "start": 10.0, "end": 40.0, "stages": [0]},
                     {"id": 1, "group": "2", "start": 30.0, "end": 50.0, "stages": [1]},
                     # a stream thread's job: parented by containment
                     {"id": 2, "group": "stream-run", "start": 95.0, "end": 99.0,
                      "stages": [2]},
                     # never seen ending: covers no time
                     {"id": 3, "group": "2", "start": 60.0, "end": None, "stages": []}],
            "stages": [{"id": i, "job": i, "submit": 0.0, "complete": 0.0, "tasks": 2,
                        "run_ms": 10, "shuffle_read_b": 0, "shuffle_write_b": 0,
                        "spill_b": 0, "compact": False, "task_ms": [4, 6]} for i in range(3)],
            "plans": [{"start": 12.0, "ms": 3.0}, {"start": 200.0, "ms": 50.0}],
        }
        L = metrics.Layers(trace, cores=2)
        self.assertEqual(sorted(L.jobs_under[1]), [0, 1, 2, 3])
        self.assertEqual(sorted(L.jobs_under[2]), [0, 1, 3])
        self.assertEqual(L.driver_gap(1), 100 - 44)
        self.assertEqual(L.driver_gap(2), 80 - 40)
        self.assertEqual(L.task_ms(1), 30)
        self.assertEqual(L.plan_ms(1), 3.0)
        self.assertEqual(metrics.op_busy({"trace": trace, "cores": 2})["op"]["busy"], 30 / 200)


class WriteAccountingTest(unittest.TestCase):
    def test_new_and_resized_files_count_in_full(self):
        before = {"a": 10, "b": 20, "gone": 99}
        after = {"a": 10, "b": 25, "c": 7}
        self.assertEqual(metrics.written_bytes(before, after), 25 + 7)
        self.assertEqual(metrics.files_written(before, after), 2)

    def test_pass_writes_sum_consecutive_listings_by_prefix(self):
        l0 = {"state": {"gold/x": 1}, "out": {}}
        l1 = {"state": {"gold/x": 1, "gold/y": 4, "_wm/z": 2}, "out": {"r": 3}}
        l2 = {"state": {"gold/y": 4, "gold/w": 5}, "out": {"r": 6}}
        self.assertEqual(metrics.pass_writes([l0, l1, l2]), (4 + 2 + 3 + 5 + 6, 5))
        self.assertEqual(metrics.pass_writes([l0, l1, l2], prefix="state/gold/"), (9, 2))

    def test_rewriting_the_same_file_counts_each_time(self):
        ls = [{"out": {}}, {"out": {"r": 3}}, {"out": {"r": 4}}, {"out": {"r": 3}}]
        self.assertEqual(metrics.pass_writes(ls), (10, 3))


class EndToEndTest(unittest.TestCase):
    def record(self, oks, check=None):
        ops = [{"pass": 1, "op": f"o{i}", "ok": ok, "ms": 100.0 * (i + 1), "start": 0, "end": 0}
               for i, ok in enumerate(oks)]
        for o in ops:
            if not o["ok"]:
                o.update(error_class="java.lang.IllegalStateException", error="boom")
        listing = [{"out": {}}, {"out": {"r": 50}}]
        return {
            "ops": ops, "jvm_start_ms": 500,
            "passes": [{"pass": 1, "ms": 1000.0, "heap_live_mb": 64.0, "check": check,
                        "listings": listing, "input_bytes": 100}],
            "setup_reps": [{"session_s": 1.0, "generate_s": 2.0},
                           {"session_s": 0.5, "generate_s": 1.0},
                           {"session_s": 0.5, "generate_s": 1.5}],
            "prepare_s": 0.0, "warm_s": 4.0, "inputs": {},
            "warm": {"errors": [], "pass_check": None},
        }

    def test_failed_op_gives_no_latency_sample_and_keeps_its_reason(self):
        m, attempted, failed, correct, d = metrics.end_to_end(self.record([True, False, True]))
        self.assertEqual((attempted, failed, correct), (3, 1, False))
        self.assertEqual(d["op_p50_ms"], 200.0)  # median of 100 and 300
        self.assertEqual(d["failures"][0]["class"], "java.lang.IllegalStateException")
        self.assertAlmostEqual(m["ok_frac"][0], 2 / 3)

    def test_setup_is_jvm_plus_median_rep_plus_warm(self):
        m, *_, d = metrics.end_to_end(self.record([True]))
        self.assertAlmostEqual(m["setup_s"][0], 0.5 + 2.0 + 4.0)
        self.assertAlmostEqual(m["pass_s"][0], 1.0)
        self.assertAlmostEqual(m["write_amp"][0], 0.5)

    def test_failed_pass_check_fails_every_op_of_the_pass(self):
        _, _, failed, correct, d = metrics.end_to_end(self.record([True, True], check="gold"))
        self.assertEqual((failed, correct), (2, False))
        self.assertIn("gold", d["failures"][0]["message"])


if __name__ == "__main__":
    unittest.main()
